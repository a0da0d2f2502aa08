"""Deduplication operators for training-data pipelines.

Not reference behavior (SURVEY.md §0: north-star extensions) — these are
the operators a 100 TB text corpus needs. All four families:

- exact:    MD5 content fingerprint → hash-groupBy (one shuffle on the
            fingerprint; map-side combine collapses most duplicates).
- MinHash+LSH: shingle → min-wise signatures → banded bucket grouping
            (Broder '97 / Leskovec MMDS ch.3).
- SimHash:  Charikar '02 sign-of-weighted-sum fingerprint; near-dup =
            small Hamming distance.
- n-gram Jaccard: exact set overlap via shingle explode + equi-join —
            the verification stage behind MinHash's estimate.

Performance shape (this is what makes them viable at corpus scale):
- ONE MD5 per shingle/token — the MinHash permutations are arithmetic
  ((a*h+b) mod 2^31-1, functions/hashing.py), not repeated hashing.
- Explode → groupBy-with-partial-aggregation instead of giant per-row
  array expressions: Catalyst's project-collapsing would otherwise
  re-evaluate the shingle/hash arrays once per permutation (measured
  ~14× slowdown at sf0.1 before this design).
- Candidate pairs come from collect_list per LSH bucket + an in-bucket
  pair expansion — a single shuffle, no self-join that would recompute
  the signature pipeline twice. Skewed buckets (boilerplate text) are
  the known hazard: cap or salt them in production; AQE splits the
  shuffle skew here.

Every hash is MD5-derived so results are identical across engines and
cluster topologies. The only Python execution is the Arrow-batched BLAS
cosine verify in the embedding paths (functions/vectors.cosine_blas) —
dense linear algebra over millions of candidate pairs is exactly where
the vectorized-Pandas escape hatch wins (~100× the interpreted
higher-order-function expressions).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import (
    md5_prefix64,
    perm_hash,
    perm_seeds,
    shingle_hash_rows,
)
from ..session import local_df, materialize

#: Default LSH bucket-size skew guard. A bucket of m members expands to
#: m(m-1)/2 pairs, so one boilerplate bucket of 1e5 docs is 5e9 pairs in a
#: single task; buckets past this size are dropped. Oracle SQL that mirrors
#: an LSH plan must apply the SAME cap (plans/queries_llm._CAPPED_CTE does)
#: or Spark/oracle diverge by construction once any bucket exceeds it.
DEFAULT_MAX_BUCKET_SIZE = 1000


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact-duplicate groups: (fingerprint, canonical_id, dup_count).

    Canonical row = min id per group (deterministic survivor pick).
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_perms: int = 8,
                       hashed: DataFrame | None = None) -> DataFrame:
    """Wide MinHash signatures: (id, mh_0 .. mh_{num_perms-1}).

    Shingle-hash ROWS (hashing.shingle_hash_rows: one codegen'd MD5 per
    token, polynomial window composition — shingle strings never exist)
    → one groupBy computing all permutation minima as partial
    aggregates. The groupBy reuses the window's hash partitioning on
    id, so the whole signature pipeline is a single shuffle.

    ``hashed`` (r19): a precomputed ``(id, h)`` relation from
    ``shingle_hash_rows(df, ...)`` with the SAME (text_col, id_col, k)
    — a caller composing several shingle consumers over one corpus can
    materialize the hash set once. Exact either deduped or raw: the
    permutation minima over the hash SET equal minima over the
    multiset.
    """
    if hashed is None:
        hashed = shingle_hash_rows(df, text_col, id_col, k)
    return hashed.groupBy(id_col).agg(
        *[
            F.min(perm_hash(F.col("h"), a, b)).alias(f"mh_{i}")
            for i, (a, b) in enumerate(perm_seeds(num_perms))
        ]
    )


def _band_structs(num_perms: int, bands: int) -> Column:
    """Array of (band, bucket) structs; bucket = md5 of the band's rows."""
    rpb = num_perms // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "_", *[F.col(f"mh_{b * rpb + i}") for i in range(rpb)]
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )


def minhash_candidates(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", k: int = 3,
                       num_perms: int = 8, bands: int = 4,
                       max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                       hashed: DataFrame | None = None) -> DataFrame:
    """LSH candidate pairs with estimated Jaccard.

    Signature → explode into ``bands`` (band, bucket) keys → group each
    bucket, collect members, expand in-bucket pairs JVM-side → distinct.
    Output: (id_a, id_b, est_jaccard), id_a < id_b. One shuffle for the
    bucket grouping; the signature pipeline is evaluated once (a
    self-join formulation would recompute it per side).

    ``max_bucket_size`` is the production skew guard: a bucket of m
    members expands to m(m-1)/2 pairs, so one boilerplate-text bucket
    of 10⁵ docs means 5x10⁹ pairs in one task. Capped buckets are
    dropped entirely (the standard recall-for-survival trade; such
    buckets are near-always template text caught by exact dedup). The
    cap is ON by default — the 100 TB posture is the default posture;
    pass ``None`` only when the input is known boilerplate-free and
    bit-exact parity with an uncapped oracle is required.

    ``hashed``: optional precomputed shingle-hash relation (see
    :func:`minhash_signatures`).
    """
    sigs = minhash_signatures(df, text_col, id_col, k, num_perms,
                              hashed=hashed)
    mh_cols = [f"mh_{i}" for i in range(num_perms)]
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.struct(*mh_cols).alias("sig"),
        F.explode(_band_structs(num_perms, bands)).alias("bb"),
    )
    member = F.struct(F.col("id"), F.col("sig"))
    size_ok = F.size("ms") > 1
    if max_bucket_size is not None:
        size_ok = size_ok & (F.size("ms") <= max_bucket_size)
    buckets = (
        banded.groupBy("bb.band", "bb.bucket")
        .agg(F.sort_array(F.collect_list(member)).alias("ms"))
        .filter(size_ok)
    )
    # all in-bucket pairs (i < j), JVM-side nested transform
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size("ms")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["sig"].alias("sig_a"),
                    y["sig"].alias("sig_b"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .dropDuplicates(["id_a", "id_b"])
    )
    matches = sum(
        F.when(F.col(f"sig_a.{c}") == F.col(f"sig_b.{c}"), 1).otherwise(0)
        for c in mh_cols
    )
    return pairs.select(
        "id_a", "id_b", (matches / F.lit(num_perms)).alias("est_jaccard")
    )


def minhash_bucket_sizes(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", k: int = 3,
                         num_perms: int = 8, bands: int = 4) -> DataFrame:
    """(band, bucket, size) for every MinHash-LSH bucket — the
    observability surface for the skew guard. At corpus scale this is
    what you monitor: the size distribution tells you whether
    ``max_bucket_size`` is dropping real near-dup groups or only
    boilerplate blowups, and the max tells you the worst single-task
    pair expansion the cap prevented."""
    sigs = minhash_signatures(df, text_col, id_col, k, num_perms)
    banded = sigs.select(F.explode(_band_structs(num_perms, bands)).alias("bb"))
    return banded.groupBy(
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("size"))


def embedding_bucket_sizes(df: DataFrame, dim: int, n_tables: int = 8,
                           planes_per_table: int | None = None,
                           vec_col: str = "embedding") -> DataFrame:
    """(tbl, bucket, size) for every sign-LSH table bucket (see
    :func:`minhash_bucket_sizes`). ``planes_per_table=None`` applies
    the same auto-tuning rule as the near-dup operator, so the report
    reflects the buckets the operator would actually build."""
    from .similarity import auto_planes_per_table, table_buckets_blas

    if planes_per_table is None:
        planes_per_table = auto_planes_per_table(df.count())
    banded = df.select(
        F.posexplode(
            table_buckets_blas(vec_col, dim, n_tables, planes_per_table)
        ).alias("tbl", "bucket")
    )
    return banded.groupBy("tbl", "bucket").agg(
        F.count(F.lit(1)).alias("size")
    )


def shingle_pair_counts(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        hashed: DataFrame | None = None) -> DataFrame:
    """Exact shared-shingle pair counts: ``(id_a, id_b, n_shared, n_a,
    n_b)`` with id_a < id_b for every pair sharing ≥1 shingle — the
    integer core under :func:`ngram_jaccard_pairs` (which divides) and
    :func:`lsh_recall_eval` (which bins and thresholds integrally).

    Shingle IDENTITY is the 31-bit composed token hash
    (hashing.shingle_hash_rows): the self-join shuffles 8-byte ints
    instead of ~30-byte shingle strings, which at corpus scale is the
    difference between a shuffle that fits and one that spills.

    ``hashed``: optional precomputed shingle-hash relation (see
    :func:`minhash_signatures`).
    """
    if hashed is None:
        hashed = shingle_hash_rows(df, text_col, id_col, k)
    sh = hashed.select(id_col, "h").distinct()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return shared.join(sa, "id_a").join(sb, "id_b")


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold.
    Pure counting via :func:`shingle_pair_counts`: |A∩B| from the
    shared-shingle equi-join, |A|/|B| from per-doc distinct-shingle
    counts — divisions of exact ints, so the DuckDB oracle matches
    bit-for-bit (it computes Jaccard over the same hash sets).
    """
    return (
        shingle_pair_counts(df, text_col, id_col, k)
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def lsh_recall_eval(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 3,
                    num_perms: int = 8, bands: int = 4) -> DataFrame:
    """Measured recall of the MinHash-LSH candidate generator against
    exact n-gram Jaccard truth, per similarity decile → ``(jaccard_bin,
    n_truth, n_hit, recall_ppm)`` — the EVAL LOOP on the dedup family
    (what llm_ann_recall_eval is to the ANN index): the banding
    calibration (minhash_collision_calibration) predicts
    P[collision | sim] from theory; this MEASURES it against ground
    truth on the actual corpus, so a production pipeline can check the
    (bands, rows) choice holds before trusting the dedup pass.

    Truth = pairs with exact Jaccard ≥ 0.2, thresholded and binned
    integrally (5·n_shared ≥ union; bin = min((10·n_shared) div union,
    9)) — no float compares anywhere, so the DuckDB oracle matches
    bit-for-bit. Hits = truth ∩ LSH candidates via one left-semi
    equi-join on the pair key; recall as exact integral ppm per bin.
    Deliberately measures the bucket-size skew cap's recall loss too
    (capped buckets drop candidates; that loss is part of what the
    eval exists to see).

    Scale: the truth side is the exact shared-shingle join — the
    expensive leg by construction (measuring recall requires ground
    truth). Production evals run this on a sampled corpus slice
    exactly like the ANN eval's query slice; the candidate side stays
    the banded equi-join, never all-pairs.
    """
    # (A shared materialized (id, h) set across the truth and candidate
    # legs was interleaved-A/B'd in r19 and measured FLAT here — unlike
    # llm_minhash_calibration, where the same sharing wins because sh
    # feeds three consumers; the r18 concurrent-duplicate-pass plan
    # stands. See OPTIMIZATION_r19.md.)
    counts = shingle_pair_counts(df, text_col, id_col, k)
    union = F.col("n_a") + F.col("n_b") - F.col("n_shared")
    truth = (
        counts.filter(F.col("n_shared") * 5 >= union)
        .select(
            "id_a",
            "id_b",
            F.least(
                F.expr("(n_shared * 10) div (n_a + n_b - n_shared)"),
                F.lit(9).cast("long"),
            ).alias("jaccard_bin"),
        )
    )
    cand = minhash_candidates(
        df, text_col, id_col, k, num_perms=num_perms, bands=bands
    ).select("id_a", "id_b")
    truth_n = truth.groupBy("jaccard_bin").agg(
        F.count(F.lit(1)).alias("n_truth")
    )
    hit_n = (
        truth.join(cand, ["id_a", "id_b"], "left_semi")
        .groupBy("jaccard_bin")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        truth_n.join(hit_n, "jaccard_bin", "left")
        .select(
            "jaccard_bin",
            "n_truth",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.expr(
                "(coalesce(n_hit, 0) * 1000000) div n_truth"
            ).alias("recall_ppm"),
        )
    )


def embedding_recall_eval(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    planes_per_table: int = 4,
    n_tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall of the banded sign-LSH near-dup candidate
    generator against exact cosine truth, per 0.05 cosine band →
    ``(cos_bin, n_truth, n_hit, recall_ppm)`` — the THIRD eval loop
    (what :func:`lsh_recall_eval` is to MinHash-LSH and
    llm_ann_recall_eval is to the ANN index, for the embedding dedup
    path): sign-LSH collision probability falls with the plane count
    and rises toward cosine→1, so a production pipeline checks the
    (tables, planes) choice holds per similarity band before trusting
    the semantic dedup pass.

    Truth = exact capped-BLAS cosine pairs ≥ ``threshold``
    (:func:`embedding_near_dup_pairs`), binned by 0.05 band — the
    cosine is ROUND(...,6) in both engines, so the float floor is
    cross-engine deterministic. Hits via one left-semi equi-join on
    the pair key against :func:`embedding_near_dup_pairs_lsh` run at a
    PINNED ``planes_per_table`` (auto-tuning would change the curve
    being measured); recall as exact integral ppm per band. The
    bucket-size cap's recall loss is deliberately included — that loss
    is part of what the eval exists to see.

    Scale: ground truth is the expensive leg by construction (the
    exact pair space); production evals run this on a sampled corpus
    slice like the ANN eval's query slice, and the exact leg's
    MAX_BROADCAST_ROWS cap raises past driver-safe sizes. The
    candidate side stays the banded equi-join, never all-pairs.
    """
    exact = embedding_near_dup_pairs(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col
    )
    lsh = embedding_near_dup_pairs_lsh(
        df, dim=dim, threshold=threshold, n_tables=n_tables,
        planes_per_table=planes_per_table, id_col=id_col, vec_col=vec_col,
    ).select("id_a", "id_b")
    truth = exact.select(
        "id_a",
        "id_b",
        F.least(
            F.floor(F.col("cosine") * 20).cast("bigint"),
            F.lit(19).cast("bigint"),
        ).alias("cos_bin"),
    )
    truth_n = truth.groupBy("cos_bin").agg(F.count(F.lit(1)).alias("n_truth"))
    hit_n = (
        truth.join(lsh, ["id_a", "id_b"], "left_semi")
        .groupBy("cos_bin")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return truth_n.join(hit_n, "cos_bin", "left").select(
        "cos_bin",
        "n_truth",
        F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
        F.expr("(coalesce(n_hit, 0) * 1000000) div n_truth").alias(
            "recall_ppm"
        ),
    )


def ngram_novelty(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-document n-gram novelty: ``(id, n_grams, novel_grams,
    novelty)`` where ``novel_grams`` counts the doc's DISTINCT k-gram
    hashes first seen in this document (global min id over the gram)
    and ``novelty = novel_grams / n_grams``.

    Curation signal: low-novelty documents are re-hashes of earlier
    corpus content even when no single document is a near-duplicate —
    the ordering-aware complement of pairwise dedup (a doc stitched
    from ten earlier docs has high max-Jaccard ~0.1 but novelty ~0).
    Id order stands in for ingest order, so the score is deterministic
    and incremental: appending documents never changes earlier scores.

    Scale: three narrow shuffles over 8-byte gram hashes — distinct
    (id, h) pairs, a min-window partitioned BY HASH (first-occurrence
    attribution; no self-join back to the pairs), and the per-doc
    count aggregation. Nothing is quadratic and no stage is
    single-partition; the novelty ratio is a division of exact ints so
    the DuckDB oracle matches bit-for-bit.
    """
    from pyspark.sql import Window

    pairs = shingle_hash_rows(df, text_col, id_col, k).select(id_col, "h").distinct()
    first = F.min(id_col).over(Window.partitionBy("h"))
    return (
        pairs.withColumn("first_id", first)
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                F.when(F.col("first_id") == F.col(id_col), 1).otherwise(0)
            ).alias("novel_grams"),
        )
        .withColumn("novelty", F.col("novel_grams") / F.col("n_grams"))
    )


def simhash_values(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", bits: int = 16) -> DataFrame:
    """(id, simhash): Charikar fingerprint via explode → bit-vote sums.

    One MD5 per token; ``bits`` conditional SUMs as partial aggregates
    (the array-expression formulation re-evaluated the token-hash array
    once per bit under Catalyst project-collapsing).
    """
    if not 0 < bits <= 60:
        raise ValueError("bits must be in (0, 60]")
    hashed = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(F.col(id_col), md5_prefix64("tok").alias("h"))
    votes = hashed.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.col("h").bitwiseAND(F.lit(1 << j).cast("long")) != 0, 1
                ).otherwise(-1)
            ).alias(f"v{j}")
            for j in range(bits)
        ]
    )
    value = sum(
        F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("long")).otherwise(0)
        for j in range(bits)
    )
    return votes.select(F.col(id_col), value.alias("simhash"))


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (id_a < id_b,
    cosine >= threshold).

    Brute force, BLAS-shaped: the corpus collects to one normalized
    float64 matrix broadcast to executors; each Arrow batch of rows
    scores against it with a single numpy matmul inside
    ``mapInPandas``. A zip_with/aggregate expression formulation is
    ~100x slower here — Spark's higher-order-function lambdas are
    interpreted per element, and dense linear algebra is exactly what
    the Pandas-UDF escape hatch is for (SURVEY.md §2.10).

    The broadcast bounds this baseline at corpora that fit driver
    memory; the bound is ENFORCED (similarity.MAX_BROADCAST_ROWS —
    raises past it rather than OOMing the driver). Past that use
    :func:`embedding_near_dup_pairs_lsh`, which never materializes the
    corpus in one place.
    """
    import numpy as np
    import pandas as pd

    from .similarity import _collect_normalized

    ids, mat = _collect_normalized(
        df, id_col, vec_col,
        "embedding_near_dup_pairs", "embedding_near_dup_pairs_lsh",
    )
    bc = df.sparkSession.sparkContext.broadcast((ids, mat))

    def score(batches):
        c_ids, c_mat = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            a /= np.linalg.norm(a, axis=1, keepdims=True)
            sims = np.round(a @ c_mat.T, round_to)
            a_ids = pdf[id_col].to_numpy()
            hit = (sims >= threshold) & (c_ids[None, :] > a_ids[:, None])
            i, j = np.nonzero(hit)
            yield pd.DataFrame(
                {
                    "id_a": a_ids[i],
                    "id_b": c_ids[j],
                    "cosine": sims[i, j],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        score, "id_a long, id_b long, cosine double"
    )


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_tables: int = 8,
    planes_per_table: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """Banded sign-LSH near-dup pairs — the 100 TB path.

    ``n_tables`` independent hash tables of ``planes_per_table`` random
    hyperplanes each (deterministic MD5-derived planes, all tables
    hashed in one BLAS matmul — similarity.table_buckets_blas); vectors
    colliding in ANY table become candidates (prob ≈ 1-(1-p^planes)^
    tables, p = 1-θ/π), then exact cosine verifies. Same shape as
    MinHash-LSH: explode to (table, bucket) keys → one shuffle →
    in-bucket pair expansion → verify → distinct. Recall vs brute force
    is pytest-checked (tests/test_similarity.py); approximate by
    construction, hence no SQL oracle.

    ``planes_per_table=None`` (default) applies the bucket-count tuning
    rule (similarity.auto_planes_per_table): 2^planes ≈ n/64, keeping
    candidate volume O(n·tables) — LINEAR in corpus size — instead of
    O(n²/2^planes) with a fixed plane count. True near-duplicates
    (cosine→1) collide at any plane count, so dedup recall survives the
    tuning; the cost of auto mode is one ``count()`` over the input.
    """
    from ..functions.vectors import cosine_blas
    from .similarity import auto_planes_per_table, table_buckets_blas

    if planes_per_table is None:
        planes_per_table = auto_planes_per_table(df.count())
    # carry RAW float32 vectors (half the bucket payload of normalized
    # doubles); the verify stage is an Arrow-batched BLAS cosine, so
    # norms cost one vectorized pass, not interpreted per-element work
    banded = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.posexplode(
            table_buckets_blas(vec_col, dim, n_tables, planes_per_table)
        ).alias("tbl", "bucket"),
    )
    member = F.struct(F.col("id"), F.col("vec"))
    size_ok = F.size("ms") > 1
    if max_bucket_size is not None:
        size_ok = size_ok & (F.size("ms") <= max_bucket_size)
    buckets = (
        banded.groupBy("tbl", "bucket")
        .agg(F.sort_array(F.collect_list(member)).alias("ms"))
        .filter(size_ok)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size("ms")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["vec"].alias("va"),
                    y["vec"].alias("vb"),
                ),
            ),
        )
    )
    # verify BEFORE the dedup shuffle: the BLAS cosine + threshold
    # filter run map-side on the bucket partitions and kill the vast
    # majority of candidates, so the dropDuplicates shuffle moves only
    # (id_a, id_b, cosine) survivors — not megabytes of vector payload
    # per partition. Duplicate candidates (same pair from several
    # tables) score identically, so deduping after scoring is exact.
    sim = F.round(cosine_blas("va", "vb"), 6)
    return (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .select("id_a", "id_b", sim.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


#: First round index on which duplicate_clusters applies the pointer
#: jump: a graph still moving after two propagation rounds has proven
#: deeper than the cliques/stars LSH bucket expansion usually emits,
#: so every later round jumps, keeping the O(log diameter) bound.
#: Shallow graphs (diameter 1-2) converge first and pay zero jump
#: joins (r7 measured the always-jump variant at 2.3x the deferred
#: one on the sf0.1 graph).
JUMP_START_ROUND = 2

#: First round after which duplicate_clusters attempts TWO-PHASE
#: CONTRACTION (finish the label supergraph driver-side; see the loop
#: body). Two rounds collapse the LSH clique/star bulk; the contracted
#: remainder is then usually a handful of straggler chains.
CONTRACT_START_ROUND = 2

#: Max contracted (label, label) supergraph edges the driver-side
#: union-find closure accepts. A bounded LIMIT cap+1 collect — never an
#: unbounded pull; 500k 16-byte pairs is ~8 MB driver memory and a
#: sub-second closure. Over the cap the distributed jump loop simply
#: continues (the 100 TB early rounds), retrying 3 rounds later
#: against a geometrically smaller supergraph.
DRIVER_CLOSURE_CAP = 500_000

#: Whole-graph driver fast path: if the RAW (bidirectional) edge list
#: has at most this many rows, skip the distributed rounds entirely and
#: union-find it centrally — below this size even ONE propagation
#: round's fixed cost (join + checkpoint + convergence action jobs)
#: exceeds the closure. Deliberately much smaller than
#: DRIVER_CLOSURE_CAP so the 10x bench evidence graphs (~100k+ edges)
#: still exercise the distributed propagation + contraction path the
#: 100 TB deployment runs.
SMALL_GRAPH_CAP = 20_000


def _min_root_closure(rows, a: str, b: str):
    """Union-find with min-root-wins over edge ``rows`` (fields ``a``,
    ``b``); returns the path-compressing ``find``. Roots are doc ids,
    so the min root of a component IS its min id — the cluster_id
    contract."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        ra, rb = find(r[a]), find(r[b])
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return find


def duplicate_clusters(pairs: DataFrame, ids: DataFrame,
                       id_col: str = "doc_id",
                       max_iters: int = 25,
                       small_graph_cap: int | None = SMALL_GRAPH_CAP,
                       stats: dict | None = None) -> DataFrame:
    """Connected components over a near-dup pair graph: (id, cluster_id)
    with cluster_id = min doc id reachable — the step that turns
    pairwise LSH output into "keep one doc per duplicate group".

    Iterative min-label propagation WITH ADAPTIVE pointer jumping: each
    sub-round every node takes the min of its own and its neighbors'
    labels; from sub-round ``JUMP_START_ROUND`` onward (= once the
    first two rounds' sum checks show the graph is still moving)
    each sub-round also compresses paths by adopting its label's label
    (l(u) <- l(l(u))). The jump keeps convergence O(log diameter) — a
    10x-replicated corpus whose variant chains form paths of length ~40
    finishes in ~8 sub-rounds where plain propagation blew the 25-round
    budget — but it is an extra (long, long) self-join per sub-round,
    pure overhead on the SHALLOW graphs LSH actually emits (in-bucket
    pair expansion yields cliques/stars of diameter 1-2 that converge
    inside the first two rounds and pay zero jump joins; r7 measured
    always-jump at 2.3x deferred there). Each round ends in ONE
    action: it fills the round's lazy ``localCheckpoint`` (plan
    truncation) and observes the label sum on the way
    (``session.materialize``), so the per-round job fixed cost that
    dominated the r8 10x scale evidence is paid once. Convergence is
    detected via the strictly-decreasing label sum — labels only ever
    decrease, so a sum stagnant across a round means no sub-step
    changed anything, which is exactly the propagation
    fixpoint (labels constant along every path = component min);
    correctness is independent of when jumps run, at worst one no-op
    overshoot sub-step after the true fixpoint.

    Singletons (ids with no pairs) keep themselves as cluster_id and —
    crucially for corpus scale — never enter the iteration: on a real
    corpus the overwhelming majority of documents have no near-dup
    edge, so the per-round join runs over only the edge-touched minority
    and the singleton majority unions in once at the end.

    SMALL-GRAPH FAST PATH (``small_graph_cap``, default 20k): a bounded
    LIMIT probe of the raw edge list; under the cap the whole closure
    runs centrally with the same min-root union-find the contraction
    tail uses, and the distributed rounds never start — below that
    size even one propagation round's fixed job cost exceeds the
    closure. Identical output by the same argument as the contraction
    (min root of a component of doc-id edges IS its min id). The cap
    is deliberately far below DRIVER_CLOSURE_CAP so 10x-scale graphs
    (and any real corpus) still run the distributed path; pass
    ``small_graph_cap=None`` to force the loop (the equivalence test
    does).

    The iteration's shuffle width is scoped to the touched-node count
    (~50k labels/partition, capped at the session setting): the rounds
    move only a (long, long) label vector, and running them at a full
    session partition count makes empty-task overhead the dominant
    cost on small graphs. Width is pinned PER PLAN — explicit
    ``repartition(loop_parts, key)`` at each loop shuffle boundary,
    never by mutating the session-global ``spark.sql.shuffle.partitions``
    (a session conf scope leaks to concurrent queries on the same
    SparkSession and races on restore). Upstream pair generation
    materializes before the scope, so LSH banding keeps the session's
    parallelism. The edge list is repartitioned by ``dst`` ONCE and
    persisted, so no round re-shuffles it.
    """
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    # The raw edge list is PERSISTED before anything derives from it:
    # touched ids, the initial labels, and the final singleton anti-join
    # all read it, and without the cache each of those actions re-runs
    # the upstream pair generation (the LSH banding — the expensive
    # part). touched is then checkpointed (it is only the node ids —
    # tiny) and filled before edges_raw is released, so the lazy
    # `singles` tail returned to the caller never recomputes pair
    # generation.
    edges_raw = e.unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    spark = pairs.sparkSession
    session_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    rounds_run = 0
    contracted_edges = None
    fast_path_edges = None
    edges = None
    converged = False

    # SMALL-GRAPH FAST PATH — probed FIRST: one bounded LIMIT collect
    # replaces the touched checkpoint with its count-and-sum probe and
    # the edge-layout job the loop path needs (exactly the per-job
    # fixed costs this path exists to avoid). Under the cap the whole
    # closure runs centrally (same min-root union-find as the
    # contraction tail, over raw doc-id edges); touched nodes are
    # exactly the edge endpoints, so the closure map IS the label
    # vector (and an empty probe is the no-edges case: everything a
    # singleton).
    if small_graph_cap is not None:
        head = edges_raw.limit(small_graph_cap + 1).collect()
        if len(head) <= small_graph_cap:
            find = _min_root_closure(head, "src", "dst")
            nodes = sorted({v for r in head for v in (r["src"], r["dst"])})
            labels = local_df(
                spark, [(n, find(n)) for n in nodes], "id long, label long"
            )
            fast_path_edges = len(head)
            n_touched = len(nodes)
            loop_parts = 0  # the distributed loop never ran
            converged = True
            edges_raw.unpersist()

    if not converged:
        touched = (
            edges_raw.select(F.col("src").alias("id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # labels derive from the checkpointed touched ids — upstream
        # pair generation (LSH etc.) runs at the session's
        # partitioning; only the iteration below is scoped. One job
        # fills the checkpoint, counts the ids and sums the labels.
        labels = touched.select("id", F.col("id").alias("label"))
        probe = materialize(labels, n=F.count(F.lit(1)), s=F.sum("label"))
        n_touched, prev_sum = probe["n"], probe["s"]
        converged = prev_sum is None  # no edges: everything a singleton

        # The per-round joins move only the (long, long) label vector;
        # at the session's partition count most tasks are empty and
        # per-round fixed overhead dominates (the cost the r6 verdict
        # saw). Scope the loop's shuffle width to the touched-node
        # count (~50k labels/partition), never above the session
        # setting — at real scale the need exceeds the session value
        # and this is a no-op.
        loop_parts = max(4, min(session_parts, -(-n_touched // 50_000)))
        if converged:  # no edges at all — nothing to iterate
            edges_raw.unpersist()
        else:
            # one-time layout: edges by dst, labels by id, both at loop
            # width — the per-round join is co-partitioned, no exchange
            edges = edges_raw.repartition(loop_parts, "dst").persist()
            materialize(edges)  # fill from the raw cache, release it
            edges_raw.unpersist()
            labels = labels.repartition(loop_parts, "id")
    # Per-round fixed cost (job scheduling + checkpoint + convergence
    # action) dominated the 10x scale evidence in r8 (13 rounds = 13
    # eager-checkpoint jobs + 13 sum jobs). One job per round instead:
    # ``materialize`` fills a LAZY localCheckpoint and observes the
    # label sum as the rows pass, so plan truncation and the scalar
    # check share a single job. (Fusing two propagation rounds per
    # checkpoint was tried and is SLOWER: the un-materialized sub-step
    # frame is referenced twice — by the next join and its own
    # aggregate — so Catalyst re-executes the diamond's whole subtree.)
    for it in range(max_iters):
        if converged:
            break
        rounds_run += 1
        prop = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select("src", "label")
            .repartition(loop_parts, "src")
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # labels (hash id @ loop_parts) ⋈ prop (hash src @ loop_parts):
        # co-partitioned, no exchange; output stays partitioned by id
        merged = labels.join(
            prop, labels["id"] == prop["src"], "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", "label")
            ).alias("label"),
        )
        if it >= JUMP_START_ROUND:
            # pointer jump: adopt the label's own label. Labels are
            # always ids of touched nodes (min over existing
            # labels), so the inner self-join is total; labels only
            # decrease, preserving the strictly-decreasing-sum
            # convergence test.
            parent = merged.select(
                F.col("id").alias("p_id"), F.col("label").alias("p_label")
            )
            merged = (
                merged.repartition(loop_parts, "label")
                .join(
                    parent.repartition(loop_parts, "p_id"),
                    F.col("label") == F.col("p_id"),
                )
                .select("id", F.col("p_label").alias("label"))
                .repartition(loop_parts, "id")
            )
        labels = merged.localCheckpoint(eager=False)
        cur_sum = materialize(labels, s=F.sum("label"))["s"]
        if cur_sum == prev_sum:  # labels only decrease; fixpoint
            converged = True
        prev_sum = cur_sum
        if not converged and (it + 1 - CONTRACT_START_ROUND) % 3 == 0 \
                and it + 1 >= CONTRACT_START_ROUND:
            # TWO-PHASE CONTRACTION — the round-count killer. A few
            # propagation rounds collapse the clique/star bulk, after
            # which the convergence tail is a handful of straggler
            # chains: r8 measured 13 rounds on the 10x LSH graph, of
            # which rounds 5-12 moved <2% of the label mass. Contract
            # the graph to LABEL level: the distinct cross-label edges
            # (l(u), l(v)) form a supergraph whose components are the
            # unresolved remainder — tiny once the bulk has collapsed
            # (every production CC finishes small remainders centrally:
            # GraphX, GBBS). If it fits DRIVER_CLOSURE_CAP, finish with
            # a min-root union-find and broadcast the root map back —
            # one bounded collect instead of O(log diameter) more
            # rounds. Over the cap (early rounds at real scale), the
            # jump loop continues and the attempt retries 3 rounds
            # later against a geometrically smaller supergraph.
            #
            # Exactness: labels only ever decrease and start as own
            # ids, so the component-min node m always keeps label m
            # (l(m) <= m, and l(m) is an id of the component, all >= m).
            # Labels absent from the supergraph are therefore already
            # final; for the rest, the union-find's min root IS the
            # component min. Identical output to full propagation.
            ls = labels.select(
                F.col("id").alias("src"), F.col("label").alias("l_src")
            )
            ld = labels.select(
                F.col("id").alias("dst"), F.col("label").alias("l_dst")
            )
            super_edges = (
                edges.join(ld, "dst")
                .join(ls, "src")
                .filter(F.col("l_src") != F.col("l_dst"))
                .select("l_src", "l_dst")
                .distinct()
            )
            rows = super_edges.limit(DRIVER_CLOSURE_CAP + 1).collect()
            if len(rows) <= DRIVER_CLOSURE_CAP:
                find = _min_root_closure(rows, "l_src", "l_dst")
                remap = sorted(
                    {v for r in rows for v in (r["l_src"], r["l_dst"])}
                )
                map_df = local_df(
                    spark,
                    [(lbl, find(lbl)) for lbl in remap],
                    "label long, root long",
                )
                labels = labels.join(
                    F.broadcast(map_df), "label", "left"
                ).select(
                    "id", F.coalesce("root", "label").alias("label")
                ).localCheckpoint()
                contracted_edges = len(rows)
                converged = True
    if edges is not None:
        edges.unpersist()
    if stats is not None:
        # observability out-param (bench scale evidence): how many
        # propagation rounds ran, at what scoped width, and which
        # central closure finished the work — contracted_edges is the
        # LABEL-supergraph edge count when the contraction tail fired;
        # fast_path_edges is the RAW bidirectional edge count when the
        # whole graph took the driver fast path (distinct keys: the two
        # quantities are not comparable)
        stats.update(
            rounds=rounds_run, n_touched=n_touched, loop_parts=loop_parts,
            contracted_edges=contracted_edges,
            fast_path_edges=fast_path_edges,
        )
    if not converged:
        # Truncated propagation would silently hand downstream "keep one
        # per cluster" logic WRONG cluster ids (a path graph of diameter
        # > max_iters never finishes). Fail loudly instead.
        raise RuntimeError(
            f"duplicate_clusters: label propagation did not converge "
            f"within max_iters={max_iters} rounds — with pointer jumping "
            f"that bounds component diameter by ~2^{max_iters}, so this "
            f"indicates a logic regression, not a big graph."
        )
    # anti-join against the labeled (touched) ids — labels carries
    # exactly the edge-endpoint ids on BOTH paths, so no separate
    # `touched` frame is needed here (the fast path never builds one)
    singles = ids.select(F.col(id_col).alias("id")).join(
        labels.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("label"))
    return labels.unionByName(singles).select(
        F.col("id").alias(id_col), F.col("label").alias("cluster_id")
    )


def substring_duplicate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    max_gram_freq: int | None = DEFAULT_MAX_BUCKET_SIZE,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Exact SUBSTRING dedup (Lee et al. '21, "Deduplicating Training
    Data Makes Language Models Better", arXiv:2107.06499): document
    pairs sharing a verbatim token span of >= ``k`` tokens, with the
    exact length of the longest shared span.

    This is the dedup mode MinHash misses: a long verbatim passage
    embedded in two otherwise-different documents moves Jaccard only
    marginally but is exactly the contamination/memorization shape a
    training corpus must catch. The suffix-array formulation of the
    paper is replaced by a distributed equivalent with identical
    semantics for spans >= k:

    1. hash every token k-gram (hashing.shingle_hash_rows — one MD5
       per token, polynomial composition, positions kept) under TWO
       independent folds: matching requires both, a 62-bit combined
       identity. A single 31-bit fold measurably false-matches
       (~n²/2³¹: 14 spurious pairs over the 225k grams at sf0.1);
       62 bits is negligible at any achievable corpus size;
    2. drop grams occurring more than ``max_gram_freq`` times across
       the corpus (boilerplate guard — the same skew trade as the LSH
       bucket cap, mirrored by the oracle; a gram of frequency m would
       expand to m(m-1)/2 join rows);
    3. equi-join on the gram hash (id_a < id_b): each match is one
       aligned k-gram occurrence, positions ride as two ints;
    4. consecutive matches on the same alignment DIAGONAL
       (pos_a - pos_b) form runs — gaps-and-islands over pos_a — and a
       run of m consecutive k-grams is a shared span of exactly
       k + m - 1 tokens.

    Output: (id_a, id_b, n_shared_grams, n_spans, max_span_tokens),
    one row per pair sharing >= 1 full k-gram; ``min_span_tokens``
    (> k) optionally gates on the longest span. Documents with fewer
    than k tokens cannot contain a full k-gram and are excluded (their
    whole-text duplication is exact-dedup territory).

    100 TB shape: ONE shuffle of (id, pos) pairs keyed on the 62-bit
    gram hash — 24-byte rows, never text — into per-gram occurrence
    buckets (collect_list, the same machinery as minhash_candidates);
    aligned pairs expand IN-BUCKET with a JVM-side nested transform, so
    the gram-hash pipeline (one MD5 per token) is evaluated exactly
    once — the equi-self-join formulation would recompute it per join
    side and shuffle the token stream three more times (frequency-cap
    agg + both join inputs). Fan-out per gram is bounded by the
    frequency cap, so pair output is O(matches), not O(n²); the islands
    window then repartitions by pair, the natural key of the result.
    All hashes are the MD5-polynomial family, so the DuckDB oracle
    (which keeps the readable self-join form — same pair set by
    construction) replays every step bit-identically.
    """
    spans = _substring_spans(docs, text_col, id_col, k, max_gram_freq)
    out = spans.groupBy("id_a", "id_b").agg(
        F.sum("run_len").alias("n_shared_grams"),
        F.count(F.lit(1)).alias("n_spans"),
        (F.lit(k - 1) + F.max("run_len")).alias("max_span_tokens"),
    )
    if min_span_tokens is not None:
        out = out.filter(F.col("max_span_tokens") >= min_span_tokens)
    return out


def _substring_spans(docs: DataFrame, text_col: str, id_col: str, k: int,
                     max_gram_freq: int | None) -> DataFrame:
    """Shared-span relation behind :func:`substring_duplicate_pairs` and
    :func:`substring_scrub`: one row per maximal aligned run —
    (id_a, id_b, diag, run_len, start_a), start_b = start_a - diag.
    Same plan as the pairs operator up to the final aggregate."""
    from pyspark.sql import Window

    eligible = docs.filter(F.size(F.split(F.col(text_col), " ")) >= k)
    g = shingle_hash_rows(eligible, text_col, id_col, k, dual=True)
    member = F.struct(F.col(id_col).alias("id"), F.col("pos").alias("pos"))
    size_ok = F.size("ms") > 1
    if max_gram_freq is not None:
        size_ok = size_ok & (F.size("ms") <= max_gram_freq)
    buckets = (
        g.groupBy("h", "h2")
        .agg(F.sort_array(F.collect_list(member)).alias("ms"))
        .filter(size_ok)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size("ms")),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    x["pos"].alias("pos_a"),
                    (x["pos"] - y["pos"]).alias("diag"),
                ),
            ),
        )
    )
    m = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .filter(F.col("id_a") < F.col("id_b"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    runs = m.withColumn("island", F.col("pos_a") - F.row_number().over(w))
    return runs.groupBy("id_a", "id_b", "diag", "island").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("pos_a").alias("start_a"),
    )


def substring_scrub(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", k: int = 8,
                    max_gram_freq: int | None = DEFAULT_MAX_BUCKET_SIZE
                    ) -> DataFrame:
    """The substring-dedup ACTION (Lee et al. '21 §4: the paper's point
    is REWRITING the corpus, not listing pairs): remove every verbatim
    >= ``k``-token span that also occurs in a lower-id document,
    keeping exactly the lowest-id occurrence — the span-level analogue
    of keep-one-per-cluster.

    From the shared span relation (:func:`_substring_spans`), every
    (id_a < id_b) aligned run marks tokens [start_b, start_b + run_len
    + k - 1) of the HIGHER doc for removal; a document's removal
    intervals (possibly from many partners, possibly overlapping) are
    collected per doc and MERGED in-row (sorted interval sweep as a
    higher-order aggregate — no second shuffle), then the text rebuilds
    by filtering token positions outside every merged interval.

    Output: ALL input docs as (id, text, n_spans_removed,
    n_tokens_removed) — text rewritten where spans were cut, unchanged
    otherwise (a corpus REWRITE, the shape a training pipeline feeds
    forward). Pure integer/string ops, so the DuckDB oracle replays it
    exactly.

    100 TB shape: everything up to intervals is the pairs plan; the
    per-doc interval list is bounded by the doc's own span count (the
    gram-frequency cap bounds fan-in), the merge is in-row, and the
    rebuild is a map over the doc scan after ONE narrow (id,
    intervals) join.
    """
    spans = _substring_spans(docs, text_col, id_col, k, max_gram_freq)
    iv = spans.select(
        F.col("id_b").alias(id_col),
        F.struct(
            (F.col("start_a") - F.col("diag")).cast("int").alias("s"),
            (F.col("start_a") - F.col("diag") + F.col("run_len")
             + F.lit(k - 1)).cast("int").alias("e"),
        ).alias("iv"),
    )
    per_doc = iv.groupBy(id_col).agg(
        F.sort_array(F.collect_list("iv")).alias("ivs")
    )
    # in-row sorted interval sweep: fold intervals left to right,
    # extending the last merged interval when s <= its e, else
    # appending — classic merge, zero extra shuffle
    merged = F.aggregate(
        F.col("ivs"),
        F.expr("CAST(array() AS array<struct<s:int,e:int>>)"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (x["s"] <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], x["e"]
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )
    per_doc = per_doc.select(id_col, merged.alias("ivs"))

    toks = F.split(F.col(text_col), " ")
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("ivs"), lambda v: (i >= v["s"]) & (i < v["e"])
        ),
    )
    joined = docs.join(per_doc, id_col, "left")
    no_iv = F.col("ivs").isNull()
    return joined.select(
        F.col(id_col),
        F.when(no_iv, F.col(text_col))
        .otherwise(F.array_join(kept, " ")).alias(text_col),
        F.coalesce(F.size("ivs"), F.lit(0)).cast("long")
        .alias("n_spans_removed"),
        F.when(no_iv, F.lit(0).cast("long"))
        .otherwise(
            F.aggregate(
                F.col("ivs"), F.lit(0),
                lambda acc, v: acc + (v["e"] - v["s"]),
            ).cast("long")
        ).alias("n_tokens_removed"),
    )


def contamination(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3) -> DataFrame:
    """Benchmark contamination check — the train/test-leakage gate every
    training-data pipeline runs (GPT-3 §D / The Pile style n-gram
    collision): for each corpus doc, the share of its distinct word
    k-shingles that appear anywhere in the benchmark set.

    Returns (id, n_shared, n_shingles, contamination_ratio) for docs
    with at least one shared shingle. Both sides go through the same
    MD5-polynomial shingle hashing as MinHash (one codegen'd MD5 per
    token); the benchmark's distinct hash set is BROADCAST — benchmark
    suites are a few MB against a corpus of TBs, so the probe is a
    map-side hash join, no shuffle of the corpus beyond the per-doc
    distinct/groupBy pair that shares one (id) partitioning.
    """
    bench_hashes = (
        shingle_hash_rows(benchmark, text_col, id_col, k)
        .select("h")
        .distinct()
    )
    corpus_hs = (
        shingle_hash_rows(corpus, text_col, id_col, k)
        .select(id_col, "h")
        .distinct()
    )
    totals = corpus_hs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles")
    )
    hits = (
        corpus_hs.join(F.broadcast(bench_hashes), "h")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return hits.join(totals, id_col).select(
        id_col,
        "n_shared",
        "n_shingles",
        F.round(F.col("n_shared") / F.col("n_shingles"), 6).alias(
            "contamination_ratio"
        ),
    )


def keep_one_per_cluster(docs: DataFrame, clusters: DataFrame,
                         id_col: str = "doc_id") -> DataFrame:
    """The dedup ACTION downstream of :func:`duplicate_clusters`: keep
    exactly the min-id survivor of every duplicate cluster.

    ``cluster_id`` IS the min reachable doc id, so the survivor set is
    simply rows where ``id == cluster_id`` — a filter on the cluster
    frame (no extra shuffle), then a left-semi join back to ``docs`` to
    carry the full surviving rows. Returns ``docs``' schema plus
    ``n_members`` (cluster size, 1 for singletons) for audit.
    """
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    survivors = (
        clusters.filter(F.col(id_col) == F.col("cluster_id"))
        .join(sizes, "cluster_id")
        .select(id_col, "n_members")
    )
    return docs.join(survivors, id_col, "inner")


def keep_best_per_cluster(clusters: DataFrame, quality: DataFrame,
                          id_col: str = "doc_id",
                          quality_col: str = "quality") -> DataFrame:
    """The QUALITY-RANKED dedup action: per duplicate cluster keep the
    member with the highest ``quality_col`` (ties broken by min id) —
    the policy real curation pipelines run instead of min-id
    keep-one, because near-dup groups usually mix a clean original
    with mangled/boilerplate-wrapped copies and you want the clean one
    (e.g. RefinedWeb / FineWeb keep the longest or highest-scoring
    member, not an arbitrary one).

    Separating CLUSTERING (:func:`duplicate_clusters`) from SELECTION
    (this) is deliberate: the expensive transitive closure is computed
    once and any policy — min-id, best-quality, most-recent — is a
    cheap ranked pass over its output.

    ``quality`` is (id, quality_col); pass an INTEGER score (e.g.
    alpha-token count) when cross-engine exactness matters — float
    scores order-tie on ulps. Output: (id, cluster_id, quality,
    is_kept), every clustered doc, audit form — the join to
    ``quality`` is LEFT, so docs missing a score keep their audit row
    with NULL quality and rank LAST (desc puts nulls last; the id
    tiebreak keeps the election total), rather than silently vanishing
    and silently changing which survivor wins.

    100 TB shape: one shuffle — the ranked window partitions by
    cluster_id, which is the natural output key; cluster sizes are
    near-always tiny (near-dup groups), so no partition skew beyond
    what the LSH bucket cap already bounds.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.col(quality_col).desc(), F.col(id_col)
    )
    return (
        clusters.join(quality, id_col, "left")
        .withColumn("__rn", F.row_number().over(w))
        .select(
            id_col, "cluster_id", quality_col,
            (F.col("__rn") == 1).alias("is_kept"),
        )
    )


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 16,
                       max_hamming: int = 2) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance.

    Pigeonhole banding: candidates must agree exactly on the low or the
    high half (exact for max_hamming ≤ 1; recall-bounded filter above —
    the trade every production SimHash index makes). Each half is an
    EQUI-join (an OR predicate would degrade to nested-loop); full
    distance verified with xor + bit_count.
    """
    half = bits // 2
    low_mask = (1 << half) - 1
    hs = simhash_values(df, text_col, id_col, bits).select(
        F.col(id_col),
        "simhash",
        F.col("simhash").bitwiseAND(F.lit(low_mask).cast("long")).alias("h_lo"),
        F.shiftright("simhash", half).alias("h_hi"),
    )

    def half_join(key: str) -> DataFrame:
        a, b = hs.alias("a"), hs.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )

    # filter BEFORE the dedup shuffle: hamming is computed in the join
    # projection, so rejecting far pairs first means dropDuplicates
    # shuffles only the (tiny) surviving near-pair set
    cand = (
        half_join("h_lo")
        .filter(F.col("hamming") <= max_hamming)
        .unionAll(half_join("h_hi").filter(F.col("hamming") <= max_hamming))
    )
    return cand.dropDuplicates(["id_a", "id_b"])


def containment_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", k: int = 3,
                      num_perms: int = 8, bands: int = 4) -> DataFrame:
    """Directed containment scores for LSH candidate pairs:
    ``c_a_in_b = |shingles(A) ∩ shingles(B)| / |shingles(A)|`` and the
    mirror. Jaccard under-weights SUBSET duplication (a paragraph
    quoted inside a much longer doc scores low symmetric similarity but
    containment ≈ 1) — this is the asymmetric gate a curation pipeline
    layers on top of MinHash.

    Candidate generation is the banded-LSH path (subquadratic); the
    exact intersection then runs only on candidate pairs: two hash
    joins of the candidate list against the per-doc distinct shingle
    sets, one count per pair. Cost scales with candidates × doc size,
    never |corpus|².
    """
    from ..functions.hashing import shingle_hash_rows

    cand = minhash_candidates(
        docs, text_col, id_col, k=k, num_perms=num_perms, bands=bands
    ).select("id_a", "id_b")
    sh = (
        shingle_hash_rows(docs, text_col, id_col, k)
        .select(F.col(id_col).alias("__id"), "h")
        .distinct()
    )
    tot = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        cand.join(sh, cand["id_a"] == sh["__id"])
        .select("id_a", "id_b", "h")
        .join(
            sh.select(F.col("__id").alias("__idb"), F.col("h").alias("__hb")),
            (F.col("id_b") == F.col("__idb")) & (F.col("h") == F.col("__hb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        shared.join(tot.select(F.col("__id"), F.col("n").alias("n_a")),
                    F.col("id_a") == F.col("__id")).drop("__id")
        .join(tot.select(F.col("__id"), F.col("n").alias("n_b")),
              F.col("id_b") == F.col("__id")).drop("__id")
        .select(
            "id_a", "id_b", "n_shared", "n_a", "n_b",
            F.round(F.col("n_shared") / F.col("n_a"), 6).alias("c_a_in_b"),
            F.round(F.col("n_shared") / F.col("n_b"), 6).alias("c_b_in_a"),
        )
    )


def incremental_candidates(corpus: DataFrame, batch: DataFrame,
                           text_col: str = "text", id_col: str = "doc_id",
                           k: int = 3, num_perms: int = 8, bands: int = 4,
                           max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
                           ) -> DataFrame:
    """Cross-side MinHash-LSH candidates for INCREMENTAL dedup: pairs
    (corpus doc, batch doc) sharing a band bucket — the corpus is never
    paired with itself, so the pair expansion is batch-driven.

    Output: (corpus_id, batch_id, est_jaccard), distinct.

    Same one-shuffle shape as :func:`minhash_candidates`: band both
    sides, group each (band, bucket) collecting the two member lists
    separately, cross-expand JVM-side only where BOTH sides are present.
    The ``max_bucket_size`` guard applies to the bucket's TOTAL
    (corpus + batch) membership — identical semantics to running the
    full pairing on the union and keeping cross pairs, so an oracle over
    the unioned banding stays exact. At 100 TB the corpus side's banded
    rows are a precomputed table partitioned by (band, bucket); the
    nightly batch bands itself and joins in, touching only the buckets
    the batch occupies.
    """
    mh_cols = [f"mh_{i}" for i in range(num_perms)]

    def banded(df: DataFrame, side: str) -> DataFrame:
        sigs = minhash_signatures(df, text_col, id_col, k, num_perms)
        return sigs.select(
            F.col(id_col).alias("id"),
            F.struct(*mh_cols).alias("sig"),
            F.explode(_band_structs(num_perms, bands)).alias("bb"),
            F.lit(side).alias("side"),
        )

    u = banded(corpus, "c").unionAll(banded(batch, "b"))
    member = F.struct(F.col("id"), F.col("sig"))
    cs = F.sort_array(
        F.collect_list(F.when(F.col("side") == "c", member))
    )
    bs = F.sort_array(
        F.collect_list(F.when(F.col("side") == "b", member))
    )
    size_ok = (F.size("cs") > 0) & (F.size("bs") > 0)
    if max_bucket_size is not None:
        size_ok = size_ok & (
            (F.size("cs") + F.size("bs")) <= max_bucket_size
        )
    buckets = (
        u.groupBy("bb.band", "bb.bucket")
        .agg(cs.alias("cs"), bs.alias("bs"))
        .filter(size_ok)
    )
    pair_arr = F.flatten(
        F.transform(
            F.col("cs"),
            lambda x: F.transform(
                F.col("bs"),
                lambda y: F.struct(
                    x["id"].alias("corpus_id"),
                    y["id"].alias("batch_id"),
                    x["sig"].alias("sig_a"),
                    y["sig"].alias("sig_b"),
                ),
            ),
        )
    )
    pairs = (
        buckets.select(F.explode(pair_arr).alias("p"))
        .select("p.*")
        .dropDuplicates(["corpus_id", "batch_id"])
    )
    matches = sum(
        F.when(F.col(f"sig_a.{c}") == F.col(f"sig_b.{c}"), 1).otherwise(0)
        for c in mh_cols
    )
    return pairs.select(
        "corpus_id", "batch_id",
        (matches / F.lit(num_perms)).alias("est_jaccard"),
    )
