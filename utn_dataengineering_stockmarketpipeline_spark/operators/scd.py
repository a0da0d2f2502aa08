"""SCD Type 0 merge (SURVEY.md §2.5 J1/J2, §2.9 T2).

The reference inserts only rows whose key is absent from the target via
``LEFT JOIN … WHERE key IS NULL`` SQL executed by Postgres
(``DB_manager.py:142-177``), after a truncate-and-reload hop through a
stage schema (``:107-136``). The stage hop exists only because pandas
cannot anti-join against a remote table; Spark expresses the whole merge
as one ``left_anti`` join — the canonical idempotent / exactly-once-sink
building block (re-delivered rows vanish in the anti-join).

Scale notes: the incoming batch is usually tiny next to the target, but
the JOIN must still scan the target's keys. Partition-prune the target
first with the ``prune`` predicate, and let AQE pick broadcast when the
pruned side is small. The warehouse commit
(``operators/warehouse.commit_to_warehouse``) does this: its keys embed
the date, so only year/month partitions at or after the batch's
earliest one can hold a colliding key. It also passes its stage as one
partition: ``dropDuplicates`` over a single partition needs no
exchange, which suits a batch that came from the driver. A batch too
large for one task should arrive with its own partitioning instead.
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame


def new_rows(incoming: DataFrame, target: DataFrame, key: str,
             prune: Column | None = None) -> DataFrame:
    """Rows of ``incoming`` whose ``key`` does not exist in ``target``.

    Mirrors DB_manager.py:152-155 (markets / J1) and :172-176
    (stock_prices / J2). Duplicate keys *within* the batch are collapsed
    first so a single load is idempotent in itself.
    """
    pruned = target.filter(prune) if prune is not None else target
    return incoming.dropDuplicates([key]).join(
        pruned.select(key), on=key, how="left_anti"
    )


def scd2_apply(
    incoming: DataFrame,
    current: DataFrame,
    key: str,
    tracked: list[str],
    load_date: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
) -> DataFrame:
    """SCD Type 2: versioned-dimension merge (the warehouse extension
    one step past the reference's insert-only Type 0).

    ``current`` carries version columns (valid_from, valid_to NULL for
    open rows, is_current); ``incoming`` is an unversioned snapshot.
    Returns the complete new table state:

    - unchanged open rows and all closed history pass through;
    - open rows whose ``tracked`` attributes differ from the snapshot
      close (valid_to = load_date, is_current = false) and a new open
      version inserts;
    - never-seen keys insert as new open rows.

    Keys absent from the snapshot stay open (dimension snapshots can be
    partial). One full-outer-shaped comparison expressed as hash-equi
    joins — attribute comparison happens on an MD5 of the tracked
    columns, so every classification join carries (key, hash) only, not
    every tracked column twice. Idempotent: re-applying the same
    snapshot changes nothing.

    Join shape (r19 — the per-batch merge cascade halved): ONE narrow
    LEFT join of the snapshot hashes against the open-row hashes
    classifies every snapshot key as changed / new ("act"); the close
    and pass-through branches then fuse into ONE conditional LEFT join
    over the open rows (was: a semi + anti pair against a relation that
    itself cost an inner join, plus a second anti join and a union for
    the insert keys — 5 joins; now 3 plus one tiny distinct). The
    distinct on the changed-key set exists because incoming MAY carry
    duplicate keys (the original semi/anti pair was set-semantic; a
    plain left join against duplicated keys would duplicate open rows).
    """
    from pyspark.sql import functions as F

    # concat_ws SKIPS null arguments, so without a sentinel ['a', NULL]
    # hashes like ['a'] and a NULL↔'' change would never version.
    # Coalesce each tracked column to a value no real string equals.
    att = F.md5(
        F.concat_ws(
            "\x1f",
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00"))
                for c in tracked
            ],
        )
    )
    ld = F.lit(load_date).cast("date")

    open_cur = current.filter(F.col(is_current))
    closed_cur = current.filter(~F.col(is_current))

    # snapshot keys that need a new open version: hash differs (changed)
    # or no open row exists (new). __was_open distinguishes the two.
    act = (
        incoming.select(F.col(key), att.alias("__hi"))
        .join(
            open_cur.select(F.col(key), att.alias("__hc")), [key], "left"
        )
        .filter(F.col("__hc").isNull() | (F.col("__hi") != F.col("__hc")))
        .select(key, F.col("__hc").isNotNull().alias("__was_open"))
    )

    # open rows: close the changed ones in place, pass the rest through
    chg = (
        act.filter(F.col("__was_open"))
        .select(key)
        .distinct()
        .withColumn("__chg", F.lit(True))
    )
    open_new = (
        open_cur.join(chg, [key], "left")
        .withColumn(
            valid_to, F.when(F.col("__chg"), ld).otherwise(F.col(valid_to))
        )
        .withColumn(
            is_current,
            F.when(F.col("__chg"), F.lit(False)).otherwise(F.col(is_current)),
        )
        .drop("__chg")
    )

    to_insert = (
        incoming.join(act.select(key), key, "left_semi")
        .withColumn(valid_from, ld)
        .withColumn(valid_to, F.lit(None).cast("date"))
        .withColumn(is_current, F.lit(True))
    )
    return (
        closed_cur.unionByName(open_new).unionByName(to_insert)
    )


def scd2_as_of(
    versioned: DataFrame,
    as_of_dates: list[str],
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
) -> DataFrame:
    """Point-in-time snapshot(s) of an SCD Type 2 table — the temporal
    READ that versioned dimensions exist to serve ("what did the dim
    look like on date X"). A row is live at ``as_of`` iff
    ``valid_from <= as_of AND (valid_to IS NULL OR valid_to > as_of)``
    (half-open [from, to) intervals, matching :func:`scd2_apply` which
    sets the new version's ``valid_from`` equal to the closed one's
    ``valid_to``).

    Accepts several dates at once: the version table cross-joins a
    broadcast literal date relation, so reconstructing N report dates
    costs ONE scan of the dimension, not N. Output carries ``as_of`` as
    the leading column.
    """
    from pyspark.sql import functions as F

    if "as_of" in versioned.columns:
        raise ValueError(
            "versioned table already has an 'as_of' column — rename it "
            "before the snapshot read (the output's leading column)"
        )
    dates = F.explode(
        F.array(*[F.lit(d).cast("date") for d in as_of_dates])
    ).alias("as_of")
    vf, vt = F.col(valid_from), F.col(valid_to)
    return (
        versioned.select(dates, "*")
        .filter((vf <= F.col("as_of")) & (vt.isNull() | (vt > F.col("as_of"))))
    )


def scd1_apply(incoming: DataFrame, current: DataFrame, key: str) -> DataFrame:
    """SCD Type 1: overwrite-in-place upsert (no history).

    The middle rung of the SCD ladder the reference's warehouse implies:
    Type 0 (insert-only, ``new_rows``/``merge_append``, DB_manager.py:
    142-177) never updates; Type 2 (``scd2_apply``) versions; Type 1
    replaces. For each key present in ``incoming`` the snapshot row wins;
    keys only in ``current`` pass through (snapshots can be partial);
    never-seen keys insert. Returns the complete new table state.

    Spark-first shape: MERGE-without-MERGE as one ``left_anti`` join plus
    a union — the surviving-current side shuffles on the key once and the
    incoming side streams through unchanged. No full-outer join (which
    would materialize both sides' columns twice), no per-row comparison:
    unchanged rows are overwritten with identical values, which is
    idempotent and cheaper at scale than hash-diffing every attribute
    just to skip a same-value write. Duplicate keys within the batch are
    collapsed first (last-writer-ambiguity removed the same way
    ``new_rows`` does).

    At 100 TB: the anti-join benefits from the same partition-pruning
    advice as ``new_rows`` — prune ``current`` to partitions that can
    contain incoming keys before the join, and AQE broadcasts the batch
    side when it is small.
    """
    survivors = current.join(
        incoming.select(key), on=key, how="left_anti"
    )
    return survivors.unionByName(incoming.dropDuplicates([key]))


def merge_append(incoming: DataFrame, target_path: str, key: str,
                 partition_by: list[str] | None = None) -> int:
    """SCD-0 load: append only never-seen keys to a parquet target.

    Returns the number of rows appended (the reference prints this,
    DB_manager.py:179). Creates the target on first load.

    Only a genuinely-absent target counts as "first load". Any other
    read failure (permissions, corrupt footer, transient FS error) is
    re-raised — treating it as first-load would append the whole batch
    without the anti-join and silently break the SCD-0 exactly-once
    invariant that the streaming sink (streaming/ingest.py scd0_sink)
    relies on for replay absorption.
    """
    spark = incoming.sparkSession
    try:
        target = spark.read.parquet(target_path)
        fresh = new_rows(incoming, target, key)
    except AnalysisException as e:
        get_cond = getattr(e, "getCondition", None) or e.getErrorClass
        cond = get_cond() or ""
        if cond not in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            raise  # real failure — surface it, don't skip the anti-join
        fresh = incoming.dropDuplicates([key])  # first load
    fresh = fresh.persist()  # count + write without recomputing the anti-join
    try:
        n = fresh.count()
        if n:
            writer = fresh.write.mode("append")
            if partition_by:
                writer = writer.partitionBy(*partition_by)
            writer.parquet(target_path)
    finally:
        fresh.unpersist()
    return n


def table_diff(old: DataFrame, new: DataFrame, key: str,
               compare: list[str]) -> DataFrame:
    """Snapshot diff report — the CDC primitive under every SCD policy:
    classify each key as ``added`` / ``removed`` / ``changed`` (keys
    identical on all ``compare`` columns are dropped; a diff report
    lists differences, not the table).

    Same scale shape as scd2_apply: the comparison rides an MD5 of the
    compare columns, so the full-outer join carries (key, hash) — two
    narrow columns — however wide the table is. Null-safe: a NULL↔''
    flip counts as a change (sentinel-coalesced hash), and the
    null-key row, if present, diffs like any other key.
    """
    from pyspark.sql import functions as F

    def h(df: DataFrame) -> DataFrame:
        att = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL\x00"))
                    for c in compare
                ],
            )
        )
        return df.select(F.col(key), att.alias("__h"))

    o = h(old).withColumnRenamed("__h", "__h_old").withColumnRenamed(
        key, "__k_old"
    )
    n = h(new).withColumnRenamed("__h", "__h_new").withColumnRenamed(
        key, "__k_new"
    )
    joined = o.join(n, o["__k_old"].eqNullSafe(n["__k_new"]), "full_outer")
    # Presence is tested on the HASH columns, not the key columns: __h_*
    # is non-null whenever that side's row exists (md5 of a non-null
    # concat_ws string), while __k_* is legitimately NULL for the
    # null-key row — testing the key would misreport a matched null-key
    # pair as 'added' and make 'removed' unreachable for null keys.
    change = (
        F.when(F.col("__h_old").isNull(), F.lit("added"))
        .when(F.col("__h_new").isNull(), F.lit("removed"))
        .when(F.col("__h_old") != F.col("__h_new"), F.lit("changed"))
    )
    return (
        joined.withColumn("change_type", change)
        .filter(F.col("change_type").isNotNull())
        .select(
            F.coalesce("__k_new", "__k_old").alias(key), "change_type"
        )
    )
