"""Multimodal column operators (SURVEY.md §7 phase 5).

Images/audio/video ride as opaque ``binary`` columns with a typed
``meta`` struct (schemas.MULTIMODAL). The Spark-side plumbing — schema,
partition-friendly batch shape, Arrow-batched ``mapInPandas`` UDF
signatures — is real and tested; the actual codec step is STUBBED
(no image/audio libraries are assumed): ``extract_features`` computes
deterministic fake features from the bytes themselves
(``_fake_features``), which is where a PIL/ffmpeg encoder would plug
in.

Scale notes: payloads dominate row size, so operators that don't need
bytes must prune the column (Parquet columnar layout makes that free —
never ``select('*')`` before a metadata-only stage). ``mapInPandas``
processes Arrow record batches; ``spark.sql.execution.arrow
.maxRecordsPerBatch`` bounds peak memory when payloads are large.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# feat_* are scalar columns (not array<double>): downstream consumers —
# including the driver's pandas canonicalizer — can sort/hash scalars,
# and Parquet stores them as plain double columns with min/max stats.
N_FEATURES = 4
FEATURE_SCHEMA = (
    "asset_id long, modality string, n_bytes long, sha_prefix string, "
    + ", ".join(f"feat_{i} double" for i in range(N_FEATURES))
)


def _fake_features(payload: bytes, n: int = 4) -> list[float]:
    """Deterministic stand-in for an encoder: n doubles from the MD5."""
    h = hashlib.md5(payload).digest()
    return [int.from_bytes(h[4 * i : 4 * i + 4], "big") / 2**32 for i in range(n)]


def extract_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    The production version swaps ``_fake_features`` for a real
    decode+encode; everything else (column pruning, batch iteration,
    output schema) is the deployable shape.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            feats = payloads.map(_fake_features)
            out = {
                "asset_id": pdf["asset_id"],
                "modality": pdf["modality"],
                "n_bytes": payloads.map(len),
                "sha_prefix": payloads.map(
                    lambda b: hashlib.sha256(b).hexdigest()[:12]
                ),
            }
            for i in range(N_FEATURES):
                out[f"feat_{i}"] = feats.map(lambda f, i=i: f[i])
            yield pd.DataFrame(out)

    return assets.select("asset_id", "modality", "payload").mapInPandas(
        run, schema=FEATURE_SCHEMA
    )


def resize_plan(
    assets: DataFrame, max_width: int = 224, max_height: int = 224
) -> DataFrame:
    """Image resize, split the scale-correct way: the TARGET geometry is
    pure metadata math (JVM-side, zero decode), and only rows that
    actually shrink proceed to the decode stage (``extract_features``
    with a real codec wired in). Aspect ratio preserved; payload column
    untouched so Parquet never materializes bytes for skipped rows.
    """
    scale = F.least(
        F.lit(float(max_width)) / F.col("meta.width"),
        F.lit(float(max_height)) / F.col("meta.height"),
        F.lit(1.0),
    )
    return assets.filter(F.col("modality") == "image").select(
        "asset_id",
        "meta",
        "payload",
        F.round(F.col("meta.width") * scale).cast("int").alias("target_width"),
        F.round(F.col("meta.height") * scale).cast("int").alias("target_height"),
        (scale < 1.0).alias("needs_resize"),
    )


def frame_sample_plan(assets: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling *plan*: one output row per frame to decode.

    Expands (asset, duration) into frame timestamps JVM-side with
    ``sequence`` — the expensive decode stays in ``extract_features``
    over the per-frame rows; this stage is pure metadata and shuffles
    nothing.
    """
    return (
        assets.filter(F.col("modality") == "video")
        .select(
            "asset_id",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.greatest(F.col("meta.duration_ms") - 1, F.lit(0)),
                    F.lit(every_ms),
                )
            ).alias("frame_ts_ms"),
        )
    )


# --- perceptual-hash near-duplicate detection --------------------------------

#: pHash geometry: payloads pool to PHASH_PIXELS integer "pixels";
#: PHASH_BITS transform coefficients threshold into the hash. 32 bits,
#: not the didactic 16: a 16-bit space saturates at corpus scale —
#: birthday pairs at hamming<=1 dominate true near-dups once the image
#: count passes a few thousand, and the half-band join degrades to
#: 256-way buckets. 32 bits puts half-band buckets at 65536 and pushes
#: saturation out by ~256x (production pHash is 64-bit for the same
#: reason; 32 keeps the oracle's unrolled coefficient SQL tractable).
PHASH_PIXELS = 64
PHASH_BITS = 32


def image_phash(assets: DataFrame, id_col: str = "asset_id",
                payload_col: str = "payload") -> DataFrame:
    """Perceptual hash per asset: (id, phash) — the image-dedup
    primitive every 100 TB multimodal pipeline runs.

    Classic pHash is resize -> DCT -> threshold -> sign bits. This
    implementation keeps every stage but swaps the float DCT for the
    WALSH-HADAMARD transform (the Haar/wavelet-hash family), which is
    ±1-weighted integer sums — the whole hash is exact int64
    arithmetic, so the DuckDB oracle identity holds BY CONSTRUCTION
    (no cos() ulp drift, no quantization assumptions like the IVF
    family needs):

    1. "resize": payload bytes average-pool into PHASH_PIXELS
       length-normalized segments (bucket = pos*64 div len — pure
       integer; near-identical payloads land near-identical pixels
       regardless of length);
    2. transform: WHT coefficients c_k = Σ_i (-1)^popcount(i&k) p_i
       for k = 1..PHASH_BITS (k=0 is the DC term, dropped exactly as
       classic pHash drops it);
    3. threshold: bit_k = (PHASH_BITS*c_k > Σc) — the mean compare
       cross-multiplied to stay integer;
    4. pack bits -> 16-bit hash.

    The decode step is the honest stub of this module: synthetic
    payloads are UTF-8 bytes read back as char codes (production wires
    an image decoder -> grayscale here); pooling, transform, threshold and
    the banded pairing are the deployable pipeline. The whole hash is
    MAP-SIDE — bucket b covers the contiguous char range
    [ceil(b*L/n), ceil((b+1)*L/n)) (because pos*n div L is monotone in
    pos), so each pixel is an ``aggregate`` over a ``slice`` of the
    char-code array: zero explode, zero shuffle, one pass over the
    payload per asset. The earlier explode-per-char + 64-way
    conditional-sum groupBy formulation shuffled one row per BYTE of
    payload — the exact thing a 100 TB multimodal scan cannot afford.

    The three stages below are NESTED HIGHER-ORDER FUNCTIONS rather
    than unrolled column expressions on purpose: unrolling (64 slice
    aggregates + 16 x 64-term coefficient sums) builds a ~2000-node
    expression tree that costs ~6 s of Catalyst/Janino compilation per
    session against <0.2 s of actual execution — compile-bound, the
    wrong trade at every scale. The HOF form is a ~30-node tree
    (milliseconds to plan) whose interpreted per-row cost is the same
    O(L + bits*pixels) integer arithmetic.
    """
    n, bits = PHASH_PIXELS, PHASH_BITS
    txt = F.decode(F.col(payload_col), "UTF-8")
    codes = assets.select(
        F.col(id_col),
        F.length(txt).alias("__L"),
        F.transform(F.split(txt, ""), F.ascii).alias("__codes"),
    )
    px = codes.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(0, {n - 1}), b -> aggregate("
            f"slice(__codes, CAST((b * __L + {n - 1}) div {n} + 1 AS INT),"
            f" CAST(((b + 1) * __L + {n - 1}) div {n}"
            f" - (b * __L + {n - 1}) div {n} AS INT)),"
            " 0L, (a, x) -> a + x))"
        ).alias("__px"),
    )
    coefs = px.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(1, {bits}), k -> aggregate("
            f"sequence(0, {n - 1}), 0L, (acc, i) -> acc +"
            " IF(bit_count(i & k) % 2 = 1,"
            " -element_at(__px, CAST(i + 1 AS INT)),"
            " element_at(__px, CAST(i + 1 AS INT)))))"
        ).alias("__c"),
    )
    return coefs.select(
        F.col(id_col),
        F.expr(
            f"aggregate(sequence(1, {bits}), 0L, (acc, k) -> acc +"
            f" IF({bits} * element_at(__c, CAST(k AS INT))"
            " > aggregate(__c, 0L, (a, x) -> a + x),"
            " CAST(shiftleft(1L, CAST(k AS INT) - 1) AS BIGINT), 0L))"
        ).alias("phash"),
    )


def phash_near_pairs(assets: DataFrame, id_col: str = "asset_id",
                     payload_col: str = "payload",
                     max_hamming: int = 2) -> DataFrame:
    """Perceptual near-duplicate pairs (id_a < id_b, hamming <=
    ``max_hamming``) via PIGEONHOLE BANDING over :func:`image_phash`:
    the hash splits into ``max_hamming + 1`` disjoint bit bands, so
    any pair within the radius agrees EXACTLY on at least one band
    (the pigeonhole principle — banding loses NOTHING at any radius,
    unlike SimHash's fixed two-band layout, which is recall-bounded
    past radius 1). Each band is an equi-join; full distance is
    verified with xor + bit_count and filtered BEFORE the dedup
    shuffle. More bands trade join count for bucket selectivity:
    radius 2 over 32 bits gives three ~10-bit bands (1k-way buckets).

    The hash relation feeds every join input (bands x two sides), so
    it is lazily checkpointed: the payload scan + hash runs once and
    the joins replay the narrow (id, int64...) rows — without it the
    full decode/pool/transform pipeline re-executes per join input,
    which at 100 TB is 2(r+1) payload scans instead of one."""
    n_bands = max_hamming + 1
    if n_bands > PHASH_BITS // 8:
        raise ValueError(
            f"radius {max_hamming} needs {n_bands} bands of >= 8 bits; "
            f"widen PHASH_BITS (now {PHASH_BITS}) first — narrower "
            "bands degrade to pair explosion at corpus scale"
        )
    base, extra = divmod(PHASH_BITS, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    band_cols, off = [], 0
    for i, wdt in enumerate(widths):
        band_cols.append(
            F.shiftright("phash", off)
            .bitwiseAND(F.lit((1 << wdt) - 1).cast("long"))
            .alias(f"b{i}")
        )
        off += wdt
    hs = image_phash(assets, id_col, payload_col).select(
        F.col(id_col), "phash", *band_cols
    ).localCheckpoint(eager=False)

    def band_join(key: str) -> DataFrame:
        a, b = hs.alias("a"), hs.alias("b")
        return a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        ).select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("a.phash").bitwiseXOR(F.col("b.phash"))
            ).alias("hamming"),
        )

    cand = band_join("b0").filter(F.col("hamming") <= max_hamming)
    for i in range(1, n_bands):
        cand = cand.unionAll(
            band_join(f"b{i}").filter(F.col("hamming") <= max_hamming)
        )
    return cand.dropDuplicates(["id_a", "id_b"])


def synthetic_assets(documents: DataFrame) -> DataFrame:
    """Build a MULTIMODAL-shaped table from documents (the container has
    no real media): text bytes become the payload, metadata derives
    deterministically. Gives the multimodal operators a real
    distributed input with the right schema."""
    mod = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return documents.select(
        F.col("doc_id").alias("asset_id"),
        mod.alias("modality"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.concat(F.lit("application/x-"), mod).alias("mime"),
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            (F.col("n_chars") * 10).alias("duration_ms"),
        ).alias("meta"),
    )
