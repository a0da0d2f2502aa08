"""Text-analysis operators (language-ID, quality scoring, token stats,
fingerprinting) — north-star extensions (SURVEY.md §7 phase 5).

All pure built-in expressions (split / regexp / higher-order array
functions), so the hot path stays inside WholeStageCodegen: on a 100 TB
corpus these run as zero-shuffle map stages fused with the parquet scan.
Ratios divide exact integer counts (deterministic across engines);
no float accumulations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword-count heuristic.
# Tiny on purpose: a real deployment swaps in proper marker tables; the
# *plumbing* (argmax over per-language counts) is the operator.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is"),
    "es": ("el", "la", "de", "que", "y", "en", "un"),
    "fr": ("le", "la", "de", "et", "les", "des", "un"),
    "de": ("der", "die", "das", "und", "ist", "von", "ein"),
    "zh": ("的", "是", "了", "在", "我", "有", "和"),
}

ENGLISH_STOPWORDS = LANG_MARKERS["en"] + ("it", "for", "on", "with", "as")

PUNCT_PATTERN = r"[.,;:!?]"
WORD_PATTERN = r"[a-zA-Z]+"


def tokens(text_col: Column | str) -> Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(c, " ")


def marker_count(text_col: Column | str, markers: tuple[str, ...]) -> Column:
    """# tokens that are language-marker words (exact token match)."""
    return F.size(F.filter(tokens(text_col), lambda t: t.isin(*markers)))


def lang_id(text_col: Column | str) -> Column:
    """Predicted language: argmax of marker counts, first-wins on ties
    (stable language order), 'und' when no marker hits at all."""
    scores = {lang: marker_count(text_col, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    expr = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):
        expr = F.when(
            (scores[lang] == best) & (best > 0), F.lit(lang)
        ).otherwise(expr)
    return expr


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / token-shape quality signals.

    The classic pre-training heuristics (Gopher/C4-style rules): doc
    length, mean token length, punctuation density, stopword ratio,
    alpha-token ratio. Emitted as columns; thresholding is the caller's
    policy decision.
    """
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_alpha_tok = F.size(F.filter(toks, lambda t: t.rlike(r"^[a-zA-Z]+$")))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(text_col, F.lit(PUNCT_PATTERN), 0))
    return df.select(
        "*",
        n_chars.alias("q_n_chars"),
        n_tok.alias("q_n_tokens"),
        ((n_chars - n_tok + 1) / n_tok).alias("q_mean_token_len"),
        (n_punct / n_tok).alias("q_punct_ratio"),
        (n_stop / n_tok).alias("q_stopword_ratio"),
        (n_alpha_tok / n_tok).alias("q_alpha_ratio"),
    )


def gopher_rules(text_col: str = "text") -> dict:
    """The Gopher-style (Rae et al. '21 §A1.1) document-quality gate as
    a rules dict for :func:`expectations.quality_report` — the composite
    one-pass report a pretraining pipeline runs to see how much of a
    corpus each heuristic would cut BEFORE committing to the cut.

    Every rule is an EXACT INTEGER predicate: thresholds on ratios are
    cross-multiplied onto the raw counts (``n_punct*5 <= n_tok`` for
    "punctuation ≤ 20%") so no double division ever meets a threshold —
    a ratio landing exactly on the boundary is decided by integer
    comparison identically on every engine, the same discipline that
    keeps the ppm/micro-unit oracles exact. Thresholds follow the
    paper's spirit scaled to this corpus' synthetic prose: token count
    in [50, 100k], mean token length in [3, 10], punctuation ≤ 20% of
    tokens, stopwords ≥ 5%, alphabetic tokens ≥ 60%."""
    toks = tokens(text_col)
    n_tok = F.size(toks)
    n_chars = F.length(text_col)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike(r"^[a-zA-Z]+$")))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(*ENGLISH_STOPWORDS)))
    n_punct = F.size(F.regexp_extract_all(text_col, F.lit(PUNCT_PATTERN), 0))
    mean_len_num = n_chars - n_tok + 1  # = total token chars
    return {
        "tokens_50_to_100k": (n_tok >= 50) & (n_tok <= 100_000),
        "mean_token_len_3_to_10": (mean_len_num >= 3 * n_tok)
        & (mean_len_num <= 10 * n_tok),
        "punct_le_20pct": n_punct * 5 <= n_tok,
        "stopword_ge_5pct": n_stop * 20 >= n_tok,
        "alpha_ge_60pct": n_alpha * 5 >= n_tok * 3,
    }


#: Fixed logistic-regression weights for the classifier quality gate —
#: the shipped artifact of an offline training job (the BPE_MERGES
#: pattern): (bias, then one weight per feature in APPLICATION ORDER —
#: the logit sums left-to-right in exactly this sequence on both
#: engines, so the double arithmetic is a cross-engine identity).
QUALITY_LOGIT_BIAS = -2.5
QUALITY_LOGIT_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("q_alpha_ratio", 3.0),
    ("q_stopword_ratio", 2.0),
    ("q_mean_token_len", 0.2),
    ("q_punct_ratio", -4.0),
    ("q_len_capped", 1.0),
)


def quality_classifier(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """Classifier-based quality gate (the GPT-3/LLaMA-style filter one
    step past heuristic thresholds): a fixed-weight logistic model over
    the :func:`quality_features` signals scores every document; docs
    with positive logit pass. Output (id, logit, keep).

    Deliberately TRANSCENDENTAL-FREE: the sigmoid is monotone, so
    thresholding the LINEAR logit at 0 is the same decision as
    thresholding the probability at 0.5 — and the logit is pure
    rational double arithmetic (ratios of exact integer counts times
    literal weights, summed in a fixed order), a cross-engine identity.
    exp() is not: JVM Math.exp and DuckDB's libm routinely differ in
    the last ulp, which a value-hash comparison would see.

    Zero-shuffle codegen map stage; at 100 TB this runs fused with the
    scan like every other gate in the curation pipeline.
    """
    feats = quality_features(df, text_col)
    len_capped = (
        F.least(F.col("q_n_tokens"), F.lit(400)).cast("double") / 400.0
    )
    scored = feats.withColumn("q_len_capped", len_capped)
    z = F.lit(QUALITY_LOGIT_BIAS)
    for name, w in QUALITY_LOGIT_WEIGHTS:
        z = z + F.lit(w) * F.col(name)
    return scored.select(
        F.col(id_col),
        F.round(z, 6).alias("logit"),
        (z > 0).alias("keep"),
    )


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    (letter runs / digit runs / single non-space symbols) that tracks
    subword-tokenizer counts well enough for budget estimation."""
    bpe_ish = F.size(
        F.regexp_extract_all(
            text_col, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0
        )
    )
    return df.select(
        "*",
        F.size(tokens(text_col)).alias("ws_tokens"),
        bpe_ish.alias("bpe_ish_tokens"),
    )


# --- deterministic BPE tokenizer ---------------------------------------------
#
# Real subword counting for packing/budget arithmetic (the whitespace
# and regex counts above stay as cheap estimators). Split in the
# standard way: TRAIN on a bounded distinct-word frequency table
# (train_bpe — deterministic, driver-side, capped like every bounded
# collect in this repo), APPLY distributed via a broadcast-able merge
# table of (2-char pair -> 1-char symbol) rules.
#
# Encoding applies each rule exhaustively in rank order with plain
# string replace(). That equals classic lowest-rank-first BPE encoding:
# a later rule's output symbol cannot appear inside an earlier rule's
# pair (the symbol did not exist when the earlier rule was learned), so
# applying rule i exhaustively can never create a new site for rule
# j < i — and replace() is leftmost-non-overlapping, matching BPE's
# leftmost merge. Single-char symbols keep every rule a 2-char search,
# so the whole encoder is a chain of codegen'd replaces: zero shuffle,
# zero Python, and the DuckDB oracle replays it with the identical
# replace() semantics.

#: Fixed merge table for the catalog query — the artifact a real
#: pipeline ships alongside the tokenizer (GPT-2's vocab.bpe): the
#: output of train_bpe(documents@sf0.01, n_merges=24), embedded so the
#: DuckDB oracle can replay encoding as static SQL.
#: tests/test_bpe.py re-trains and asserts this table byte-for-byte.
BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("er", "A"), ("in", "B"), ("ow", "C"), ("or", "D"), ("st", "E"),
    ("mA", "F"), ("at", "G"), ("lu", "H"), ("ar", "I"), ("pI", "J"),
    ("jo", "K"), ("KB", "L"), ("as", "M"), ("Mh", "N"), ("hN", "O"),
    ("rC", "P"), ("Gc", "Q"), ("Qh", "R"), ("bR", "S"), ("an", "T"),
    ("cT", "U"), ("sU", "V"), ("Eo", "W"), ("Hm", "X"),
)

#: Merge symbols assigned in training order; disjoint from the corpus
#: alphabet (lowercase words) by construction — train_bpe raises if an
#: input word ever contains one.
BPE_SYMBOLS = tuple("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789")

#: Bound on the distinct-word vocabulary train_bpe collects. Raises
#: past it (never an unbounded pull): BPE training is sample-based in
#: every real pipeline, and 100k (word, count) rows is ~2 MB.
MAX_BPE_VOCAB_ROWS = 100_000


def train_bpe(df: DataFrame, text_col: str = "text",
              n_merges: int = 24) -> tuple[tuple[str, str], ...]:
    """Deterministic BPE training (Sennrich et al. '16): iteratively
    merge the most frequent adjacent symbol pair over the corpus's
    distinct-word frequency table; ties break to the lexicographically
    smallest pair, so every run and engine learns the identical table.

    The distributed part is the word-frequency aggregation (one
    map-side-combined groupBy); the merge loop runs driver-side over
    the BOUNDED distinct vocabulary (MAX_BPE_VOCAB_ROWS, raises past
    it) — the standard train-on-sample / apply-at-scale split.
    """
    rows = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(MAX_BPE_VOCAB_ROWS + 1)
        .collect()
    )
    if len(rows) > MAX_BPE_VOCAB_ROWS:
        raise ValueError(
            f"train_bpe: distinct vocabulary exceeds "
            f"MAX_BPE_VOCAB_ROWS={MAX_BPE_VOCAB_ROWS}; train on a "
            f"sampled subset of the corpus instead."
        )
    sym_set = set(BPE_SYMBOLS)
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        if set(r["w"]) & sym_set:
            raise ValueError(
                f"train_bpe: word {r['w']!r} collides with the merge "
                f"symbol alphabet; remap BPE_SYMBOLS for this corpus."
            )
        vocab[tuple(r["w"])] = vocab.get(tuple(r["w"]), 0) + r["c"]
    if n_merges > len(BPE_SYMBOLS):
        raise ValueError("n_merges exceeds the merge symbol alphabet")

    merges: list[tuple[str, str]] = []
    for i in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for word, c in vocab.items():
            for j in range(len(word) - 1):
                p = (word[j], word[j + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        top = max(pair_counts.values())
        best = min(p for p, c in pair_counts.items() if c == top)
        sym = BPE_SYMBOLS[i]
        merges.append((best[0] + best[1], sym))
        new_vocab: dict[tuple[str, ...], int] = {}
        for word, c in vocab.items():
            out: list[str] = []
            j = 0
            while j < len(word):
                if j + 1 < len(word) and (word[j], word[j + 1]) == best:
                    out.append(sym)
                    j += 2
                else:
                    out.append(word[j])
                    j += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return tuple(merges)


def bpe_encode(col: Column | str,
               merges: tuple[tuple[str, str], ...] = BPE_MERGES) -> Column:
    """Encode one word column: chained replace() in merge-rank order.
    The result string's LENGTH is the word's BPE token count (every
    symbol, merged or raw, is one char)."""
    c = F.col(col) if isinstance(col, str) else col
    for pair, sym in merges:
        c = F.replace(c, F.lit(pair), F.lit(sym))
    return c


def bpe_token_stats(df: DataFrame, text_col: str = "text",
                    merges: tuple[tuple[str, str], ...] = BPE_MERGES,
                    ) -> DataFrame:
    """Per-document BPE token counts next to the whitespace estimate:
    (.., ws_tokens, bpe_tokens, bpe_per_ws). bpe_tokens sums each
    word's encoded length — a zero-shuffle codegen map stage; this is
    the count packing/budget arithmetic should use (a whitespace token
    is 1 'token' whether the word is 'a' or 'customer'; the subword
    count is what a training job's sequence budget actually sees)."""
    toks = tokens(text_col)
    n_ws = F.size(toks)
    n_bpe = F.aggregate(
        F.transform(toks, lambda w: F.length(bpe_encode(w, merges))),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return df.select(
        "*",
        n_ws.cast("bigint").alias("ws_tokens"),
        n_bpe.alias("bpe_tokens"),
        F.round(n_bpe / n_ws, 6).alias("bpe_per_ws"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: full MD5, a 60-bit int form (join-friendly),
    and a coarse length bucket for blocking."""
    from ..functions.hashing import md5_prefix64

    return df.select(
        "*",
        F.md5(F.col(text_col)).alias("fp_md5"),
        md5_prefix64(text_col).alias("fp_int60"),
        F.floor(F.length(text_col) / 64).cast("int").alias("fp_len_bucket"),
    )


def repetition_ratio(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id, n_shingles, n_distinct, dup_fraction): the Gopher-style
    repetition signal — boilerplate/template text repeats its k-grams,
    natural text mostly doesn't. dup_fraction = 1 - distinct/total,
    exact integer counts over composed shingle hashes (one shuffle,
    shared with the other shingle consumers).
    """
    from ..functions.hashing import shingle_hash_rows

    hs = shingle_hash_rows(df, text_col, id_col, k)
    return hs.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.countDistinct("h").alias("n_distinct"),
        (
            F.lit(1)
            - F.countDistinct("h") / F.count(F.lit(1))
        ).alias("dup_fraction"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing (Schleimer/Wilkerson/Aiken '03): the rolling-hash
    document fingerprint behind plagiarism/near-copy detection.

    k-shingle hashes → min of every ``window`` consecutive hashes →
    DISTINCT mins are the document's fingerprint set. Guarantees any
    shared substring of length >= k+window-1 contributes a common
    fingerprint, at ~1/window the storage of full shingle sets.

    Plan shape: shingle-hash ROWS (hashing.shingle_hash_rows — one
    codegen'd MD5 per token, window composition, no shingle strings),
    per-doc window MIN over a row frame ordered by position, distinct.
    Everything after the explode rides one hash-partitioning on id; an
    array-expression min per position would re-evaluate the hash array
    O(n·w) times under Catalyst's project collapsing (dedup.py hazard).
    """
    from ..functions.hashing import shingle_hash_rows

    from pyspark.sql import Window as W

    hs = shingle_hash_rows(df, text_col, id_col, k)
    frame = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(0, window - 1)
    )
    n = W.partitionBy(id_col)
    # docs with < window shingles keep one fingerprint (min of all)
    return (
        hs.select(
            F.col(id_col),
            "pos",
            F.min("h").over(frame).alias("fp"),
            F.count(F.lit(1)).over(n).alias("__n"),
        )
        .filter(F.col("pos") <= F.greatest(F.col("__n") - window, F.lit(0)))
        .select(id_col, "fp")
        .distinct()
    )


# PII patterns deliberately restricted to RE2 ∩ java.util.regex syntax
# (no backrefs/lookaround) so Spark and any RE2-based engine (DuckDB,
# Go tooling) scrub byte-identically.
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_PATTERN = r"https?://[^\s]+"


def pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails/URLs from a text column — the compliance pass every
    training-data pipeline runs before tokenization.

    Pure regexp_replace/regexp_count expressions: zero-shuffle map
    stage fused with the scan, no UDF. Emits match counts (audit
    metrics) plus the scrubbed text; URL scrub runs first so an email
    inside a URL query string counts once, as '<URL>'.
    """
    scrubbed = F.regexp_replace(
        F.regexp_replace(text_col, URL_PATTERN, "<URL>"),
        EMAIL_PATTERN,
        "<EMAIL>",
    )
    return df.select(
        "*",
        F.regexp_count(text_col, F.lit(URL_PATTERN)).alias("n_urls"),
        F.regexp_count(
            F.regexp_replace(text_col, URL_PATTERN, "<URL>"),
            F.lit(EMAIL_PATTERN),
        ).alias("n_emails"),
        scrubbed.alias("scrubbed"),
    )


def stratified_sample(df: DataFrame, rates_permille: dict[str, int],
                      stratum_col: str = "lang", id_col: str = "doc_id",
                      default_permille: int = 1000) -> DataFrame:
    """Deterministic per-stratum downsampling — the corpus-mixing knob
    (e.g. downweight over-represented languages/domains before
    training). ``rates_permille`` maps stratum value → keep-rate in
    permille (1000 = keep all).

    Membership is a pure function of the row id: keep iff the first 8
    hex digits of md5(id) — a uniform 32-bit integer — fall under
    rate/1000 of 2^32, compared in EXACT integer arithmetic
    (u * 1000 < rate * 2^32), so any engine hashing the same ids keeps
    the same rows: reproducible mixes, no RNG, no partition
    sensitivity. A map-only filter fused with the scan — no shuffle,
    no sampling pass.
    """
    u = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10,
               ).cast("bigint")
    rate = F.lit(default_permille)
    for value, permille in sorted(rates_permille.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(permille)).otherwise(
            rate
        )
    return df.filter(u * F.lit(1000) < rate * F.lit(1 << 32))


def chunk_documents(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", size: int = 120,
                    stride: int = 80) -> DataFrame:
    """Fixed-size character-window chunking with overlap — the
    retrieval / context-window prep step of a training-data pipeline
    (every ``stride`` chars, emit the ``size``-char window starting
    there; the final windows are shorter at the tail).

    One row in → ``ceil(len/stride)`` rows out with columns
    ``(id_col, chunk_ix, chunk_start, chunk_text)``. Null/empty texts
    emit nothing. Zero-shuffle: scan → sequence/explode → substring,
    all inside WholeStageCodegen, so at corpus scale this is a pure
    map stage fused with the parquet scan (output partitioning ==
    input partitioning; no skew introduced beyond per-doc length).
    """
    if size <= 0 or stride <= 0:
        raise ValueError(f"size and stride must be positive, got {size}/{stride}")
    n = F.length(F.col(text_col))
    return (
        df.filter(n > 0)
        .select(
            F.col(id_col),
            F.col(text_col),
            F.explode(
                F.sequence(F.lit(0), n - F.lit(1), F.lit(stride))
            ).alias("chunk_start"),
        )
        .select(
            id_col,
            F.expr(f"CAST(chunk_start DIV {stride} AS BIGINT)").alias("chunk_ix"),
            F.col("chunk_start").cast("bigint").alias("chunk_start"),
            F.expr(f"substring({text_col}, chunk_start + 1, {size})").alias(
                "chunk_text"
            ),
        )
    )


def dsir_weights(df: DataFrame, target_source: str,
                 n_buckets: int = 64, id_col: str = "doc_id",
                 text_col: str = "text",
                 source_col: str = "source") -> DataFrame:
    """DSIR-style importance weights (Xie et al. '23, arXiv:2302.03169
    — Data Selection via Importance Resampling): score every document
    by how much its HASHED-token distribution looks like a target
    domain versus the whole corpus. Per doc,

        log_weight = Σ_tokens ln( p_target(bucket) / p_corpus(bucket) )

    with tokens hashed into ``n_buckets`` buckets (md5_prefix64 % n —
    the engine's cross-engine hash identity) and add-1 smoothing over
    the bucket vocabulary on both distributions. High-weight documents
    are 'target-like'; resampling by these weights is the paper's
    data-selection step (the resample itself is
    :func:`stratified_sample`-shaped and intentionally separate).

    Plan: one explode prunes to (id, bucket) rows; the two
    distributions come from ONE bucket aggregation (count + conditional
    count — n_buckets rows, broadcast back); per-doc bucket counts are
    one (id, bucket) shuffle; totals ride a broadcast 1-row cross
    join. Nothing scales beyond |tokens| map work + two narrow
    shuffles. Returns (id, n_tokens, log_weight); docs with no tokens
    emit nothing (no distribution evidence).

    Float discipline: the per-bucket log-ratio quantizes ONCE to int64
    micro-units (mode-stable ``floor(lr·1e6 + 0.5)`` from identical
    integer counts), the per-doc reduction is the exact integer
    ``Σ n·lr_micro`` (a parallel double SUM here was aggregation-
    order-nondeterministic under DuckDB's threaded hash agg — the
    ccnet flake class), and ``log_weight = Σ/1e6`` is one double
    division of identical integers, bit-identical cross-engine.
    """
    from ..functions.hashing import md5_prefix64

    tb = df.select(
        F.col(id_col), F.col(source_col),
        F.explode(tokens(text_col)).alias("term"),
    ).filter(F.col("term") != "").select(
        id_col, source_col,
        (md5_prefix64(F.col("term")) % F.lit(n_buckets)).alias("b"),
    )
    dist = tb.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_all"),
        F.sum(
            F.when(F.col(source_col) == target_source, 1).otherwise(0)
        ).alias("c_tgt"),
    )
    totals = dist.agg(
        F.sum("c_all").alias("t_all"), F.sum("c_tgt").alias("t_tgt")
    )
    lr = dist.crossJoin(F.broadcast(totals)).select(
        "b",
        F.floor(
            (
                F.log(
                    (F.col("c_tgt") + 1.0)
                    / (F.col("t_tgt") + float(n_buckets))
                )
                - F.log(
                    (F.col("c_all") + 1.0)
                    / (F.col("t_all") + float(n_buckets))
                )
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).cast("long").alias("lr_micro"),
    )
    doc = tb.groupBy(id_col, "b").agg(F.count(F.lit(1)).alias("n"))
    return (
        doc.join(F.broadcast(lr), "b")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(F.col("n") * F.col("lr_micro")).alias("__sum_micro"),
        )
        .select(
            id_col,
            "n_tokens",
            (F.col("__sum_micro").cast("double") / F.lit(1e6)).alias(
                "log_weight"
            ),
        )
    )


def chunk_documents_udtf(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", size: int = 120,
                         stride: int = 80) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) variant of
    :func:`chunk_documents` — identical output contract, oracle-equal
    (registered as ``llm_doc_chunks_udtf`` against the same DuckDB
    SQL as the explode formulation).

    This is the one sanctioned Python execution shape the engine's UDF
    surface (§2.10) didn't otherwise demonstrate: a row→set expansion
    where each input row yields a variable number of output rows from
    imperative Python. For fixed-size character windows the codegen'd
    sequence/explode plan (:func:`chunk_documents`) is strictly faster
    — keep using it; THIS form is the template for chunkers that
    genuinely need Python (sentence segmentation, tokenizer-aware
    packing, markup-aware splitting) where no Spark expression exists.
    Plan shape: the UDTF runs as a LATERAL join fused with the scan —
    still zero-shuffle, output partitioning == input partitioning; the
    cost is the Python-worker row hop, not the topology.
    """
    if size <= 0 or stride <= 0:
        raise ValueError(f"size and stride must be positive, got {size}/{stride}")
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_ix bigint, chunk_start bigint, chunk_text string")
    class _Chunker:
        def eval(self, text: str):  # noqa: ANN001 — UDTF contract
            if not text:
                return
            for ix, start in enumerate(range(0, len(text), stride)):
                yield ix, start, text[start:start + size]

    spark = df.sparkSession
    spark.udtf.register("__chunk_docs_udtf", _Chunker)
    df.select(id_col, text_col).createOrReplaceTempView("__chunk_docs_in")
    return spark.sql(
        f"SELECT v.{id_col}, c.chunk_ix, c.chunk_start, c.chunk_text "
        f"FROM __chunk_docs_in v, LATERAL __chunk_docs_udtf(v.{text_col}) c"
    )


def ngram_doc_frequency(df: DataFrame, n: int = 3, id_col: str = "doc_id",
                        text_col: str = "text",
                        min_docs: int = 2) -> DataFrame:
    """Boilerplate n-gram detection — word n-grams appearing in at
    least ``min_docs`` DISTINCT documents, with their document
    frequency. The detection half of C4-style boilerplate removal
    (headers, footers, license blurbs repeat verbatim across pages;
    content n-grams don't).

    Returns ``(ngram, n_docs)``. Plan: the n-gram build is a
    zero-shuffle map stage (higher-order ``transform`` over a token
    index sequence — no Python), then ONE partial-aggregated shuffle
    on the n-gram; the distinct-doc count dedups inside each group.
    On a 100 TB corpus the HAVING threshold is pushed as a post-agg
    filter, and the output is the (tiny) boilerplate dictionary you
    broadcast back to scrub with.
    """
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    # the token array is materialized into its own projection so the
    # per-n-gram element_at indexes a COLUMN (O(1) array access), not
    # the split expression — HOF lambdas are interpreted with no
    # subexpression elimination, so the inline form re-split the
    # document n times per n-gram (the bigram_terms r18 lesson)
    toks = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__toks")
    )
    w = F.col("__toks")
    # element_at is 1-based; i ranges over 0..len-n
    grams = F.transform(
        F.sequence(F.lit(0), F.size(w) - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(n)]
        ),
    )
    return (
        toks.filter(F.size(w) >= n)
        .select(F.col(id_col), F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def train_val_test_split(df: DataFrame, id_col: str = "doc_id",
                         val_permille: int = 100,
                         test_permille: int = 100) -> DataFrame:
    """Deterministic 3-way split assignment: ``split`` ∈ {train, val,
    test} from the md5 of the id — the dataset-versioning primitive of
    a training pipeline. Hash-based (not row_number-based) so the
    assignment is STABLE under corpus growth: a document keeps its
    split forever no matter what is added or removed around it, which
    is what prevents silent eval-set contamination across dataset
    releases.

    The first 8 md5 hex digits (uniform on [0, 2^32)) map to permille
    thresholds: [0, test) → test, [test, test+val) → val, rest →
    train. Zero shuffle — a pure map expression fused with the scan;
    engine-agnostic (md5 hex is identical everywhere).
    """
    if val_permille + test_permille >= 1000:
        raise ValueError("val + test must leave room for train")
    u = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
    ).cast("bigint")
    # pure integer compare (u*1000 < permille*2^32): no float boundary
    scaled = u * F.lit(1000)
    split = (
        F.when(scaled < F.lit(test_permille * (1 << 32)), F.lit("test"))
        .when(
            scaled < F.lit((test_permille + val_permille) * (1 << 32)),
            F.lit("val"),
        )
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def shard_assignment(df: DataFrame, n_shards: int = 8,
                     seed: str = "shard-42",
                     id_col: str = "doc_id") -> DataFrame:
    """Deterministic global training shuffle: ``(id, shard, position)``.

    Training jobs need the corpus in a reproducible pseudo-random order,
    materialized as N shard files each internally ordered — no engine
    ``rand()``, no ``zipWithIndex``. The shuffle key is the 60-bit md5
    of ``seed:id`` (stable across runs, engines, and cluster sizes);
    ``shard = key mod N`` and ``position = row_number`` within the
    shard ordered by ``(key, id)`` (the id tiebreak makes the order
    total even on the measure-zero chance of a 60-bit collision).

    Scale: one shuffle, partitioned BY SHARD — the window is
    ``partitionBy(shard)``, never a global sort. Parallelism equals
    n_shards, so production sets n_shards ≫ executors (1024+ shards
    for a 100 TB corpus ≈ 100 GB each); the per-shard sort is Spark's
    spillable external sort. Downstream writers emit one file per
    shard partition (``repartition(shard).sortWithinPartitions``).
    """
    from ..functions.hashing import md5_prefix64

    key = md5_prefix64(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    w = Window.partitionBy("shard").orderBy("shuffle_key", id_col)
    return (
        df.select(F.col(id_col), key.alias("shuffle_key"))
        .withColumn("shard", F.col("shuffle_key") % F.lit(n_shards))
        .withColumn("position", F.row_number().over(w).cast("bigint"))
    )


def vocabulary(df: DataFrame, text_col: str = "text",
               min_count: int = 1) -> DataFrame:
    """Frequency-ranked term vocabulary: ``(term, term_id, count)``
    with ``term_id = row_number() over (order by count desc, term)`` —
    the tokenizer-building / embedding-table-indexing step of a
    training pipeline, where ids must be dense, deterministic, and
    frequency-ordered.

    The term-count aggregation is one partial-aggregated shuffle over
    the exploded tokens. The RANKING is the part that naively needs a
    global sort of the vocabulary; windows.exact_row_number does it
    with broadcast count-offsets + a per-count partitioned window
    instead, so no single-partition stage exists even when the
    vocabulary itself is hundreds of millions of terms (distinct
    COUNT VALUES stay small — Zipf — which is what the offset collect
    scales with).
    """
    counts = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    from .windows import exact_row_number

    return exact_row_number(
        counts, "count", "term", out_col="term_id", descending=True
    ).select("term", "term_id", "count")


def unigram_logprob(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text",
                    round_to: int = 6,
                    exact_micro: bool = False) -> DataFrame:
    """Unigram language-model scoring: per-document mean negative log
    probability of its tokens under the CORPUS unigram distribution —
    the model-based quality filter class (CCNet/KenLM-style perplexity
    filtering, here with the simplest possible LM so the whole thing
    stays in exact SQL-expressible arithmetic).

    p(t) = count(t) / total_tokens over the corpus itself, so every
    token has nonzero probability (no smoothing needed). Returns
    ``(id, n_tokens, avg_neg_logprob)`` — high values = documents
    dominated by corpus-rare tokens (gibberish, OCR noise, wrong
    language); low = stopword-heavy boilerplate.

    Plan: one shuffle to build the unigram table, one token-key
    shuffle to join token occurrences to their counts (at 100 TB the
    unigram table is Zipf-small after min-count pruning and usually
    broadcastable; here it joins by key), one doc-key shuffle to
    average. Sum order differs across engines in final ulps, so the
    mean rounds to ``round_to``.

    ``exact_micro=True`` makes the score aggregation-order-
    DETERMINISTIC for consumers that feed it into a discrete decision
    (the ccnet tercile bucketer): each distinct term's −ln(p) is
    quantized ONCE to int64 micro-units with the mode-stable
    ``floor(x*1e6 + 0.5)`` (the similarity.py discipline — term-level,
    so the only cross-engine float op is a single correctly-rounded
    multiply on identical inputs), per-doc sums are exact integer
    addition (order-free, unlike double SUM), and the returned
    ``avg_neg_logprob = sum_micro / (1e6 * n_tokens)`` is ONE double
    division of identical integers — bit-identical across engines. In
    this mode the extra ``sum_nlp_micro`` column is emitted and ln runs
    |terms| times instead of |tokens| times (cheaper, too).
    """
    toks = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("__cnt"))
    total = toks.agg(F.count(F.lit(1)).alias("__total"))
    if exact_micro:
        nlp_micro = counts.crossJoin(F.broadcast(total)).select(
            "term",
            F.floor(
                -F.log(F.col("__cnt") / F.col("__total")) * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long").alias("__nlp_micro"),
        )
        return (
            toks.join(nlp_micro, "term")
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum("__nlp_micro").alias("sum_nlp_micro"),
            )
            .withColumn(
                "avg_neg_logprob",
                F.col("sum_nlp_micro")
                / (F.lit(1e6) * F.col("n_tokens")),
            )
        )
    return (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .withColumn("__nlp", -F.log(F.col("__cnt") / F.col("__total")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg("__nlp"), round_to).alias("avg_neg_logprob"),
        )
    )


def bigram_logprob(df: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text",
                   round_to: int = 6,
                   exact_micro: bool = False) -> DataFrame:
    """Bigram (first-order Markov) language-model scoring: per-document
    mean negative log of p(t_i | t_{i-1}) under the corpus bigram
    distribution — one modeling step past :func:`unigram_logprob`,
    sensitive to WORD ORDER (scrambled text scores poorly even when
    its unigram mix is normal, which is exactly what the unigram
    filter cannot see).

    p(t | prev) = c(prev, t) / c(prev, ·) with counts from the corpus
    itself, so every observed bigram has nonzero probability. Returns
    ``(id, n_bigrams, avg_neg_logprob)`` for documents with >= 2
    tokens.

    Plan: bigrams form with ``lag`` over one (doc)-partitioned window;
    the pair-count and context-count tables aggregate with map-side
    partials; two key joins (pair, context) and a per-doc average.
    At 100 TB the pruned bigram table is the big join side — it
    shuffles by pair key, never the corpus by anything but doc id.

    ``exact_micro=True`` is :func:`unigram_logprob`'s
    aggregation-order-deterministic mode: −ln(c2/c1) quantizes ONCE
    per distinct BIGRAM to int64 micro-units, per-doc sums are exact
    integer addition, and the mean is one double division of
    identical integers — use it whenever the score feeds a discrete
    decision.
    """
    w = Window.partitionBy(id_col).orderBy("pos")
    toks = (
        df.select(F.col(id_col), F.posexplode(tokens(text_col)))
        .withColumnRenamed("col", "term")
        .filter(F.col("term") != "")
    )
    bigrams = (
        toks.withColumn("prev", F.lag("term").over(w))
        .filter(F.col("prev").isNotNull())
        .select(id_col, "prev", "term")
    )
    c2 = bigrams.groupBy("prev", "term").agg(
        F.count(F.lit(1)).alias("__c2")
    )
    c1 = c2.groupBy("prev").agg(F.sum("__c2").alias("__c1"))
    if exact_micro:
        nlp_micro = c2.join(c1, "prev").select(
            "prev", "term",
            F.floor(
                -F.log(F.col("__c2") / F.col("__c1")) * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long").alias("__nlp_micro"),
        )
        return (
            bigrams.join(nlp_micro, ["prev", "term"])
            .groupBy(id_col)
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                F.sum("__nlp_micro").alias("__sum_micro"),
            )
            .select(
                id_col,
                "n_bigrams",
                (
                    F.col("__sum_micro")
                    / (F.lit(1e6) * F.col("n_bigrams"))
                ).alias("avg_neg_logprob"),
            )
        )
    return (
        bigrams.join(c2, ["prev", "term"])
        .join(c1, "prev")
        .withColumn("__nlp", -F.log(F.col("__c2") / F.col("__c1")))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("__nlp"), round_to).alias("avg_neg_logprob"),
        )
    )


def bm25_scores(df: DataFrame, query_terms: list[str],
                id_col: str = "doc_id", text_col: str = "text",
                k1: float = 1.2, b: float = 0.75,
                round_to: int = 6) -> DataFrame:
    """Okapi BM25 relevance of every document against a fixed query
    term set — the retrieval-scoring step of a search/RAG pipeline.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1)  (the Lucene form —
    always positive). Returns ``(id, score)`` for documents matching
    at least one query term. Bag-of-words query semantics: a term
    listed twice in ``query_terms`` contributes its partial score
    twice (Lucene sums per query occurrence), so multiplicity weights
    the sum rather than being silently deduplicated.

    Plan: doc lengths are a map-side projection; the token explode
    FILTERS to the query terms before any shuffle (the term list is a
    literal IN — the scan output is |matches|, not |tokens|); df per
    term and the corpus (N, avgdl) aggregates are tiny and broadcast
    back; one (id, term) shuffle for tf and one (id) shuffle for the
    final sum. Scale: everything after the filter is proportional to
    documents CONTAINING query terms.
    """
    from collections import Counter

    qweights = Counter(query_terms)
    toks = tokens(text_col)
    base = df.select(
        F.col(id_col), F.explode(toks).alias("term"),
        F.size(toks).alias("dl"),
    ).filter(F.col("term").isin(*qweights))
    corpus = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg(F.size(toks)).alias("avgdl"),
    )
    tf = base.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("tf"), F.first("dl").alias("dl")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    # query-term multiplicity as a literal broadcast map — a repeated
    # query term scales its partial, exactly one map-side multiply
    wmap = F.create_map(
        *[F.lit(x) for t, m in qweights.items() for x in (t, float(m))]
    )
    part = wmap[F.col("term")] * idf * (
        F.col("tf") * (k1 + 1.0)
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl")))
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .select(F.col(id_col), part.alias("part"))
        .groupBy(id_col)
        .agg(F.round(F.sum("part"), round_to).alias("score"))
    )


def sample_k_per_stratum(df: DataFrame, k: int, stratum_col: str = "lang",
                         id_col: str = "doc_id") -> DataFrame:
    """Deterministic EXACT-k sample per stratum: rank rows inside each
    stratum by (md5(id), id) and keep the first ``k`` — the eval-set /
    human-review draw where every stratum must contribute a fixed
    count regardless of its size (rate-based ``stratified_sample``
    can't guarantee that). md5 ordering is uniform and engine-agnostic
    (lowercase hex both here and in DuckDB), the id tiebreak makes the
    draw total, so any engine picks the same rows. One shuffle on the
    stratum; the per-group sort is the window's, no global sort."""
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def token_entropy(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text",
                  round_to: int = 6) -> DataFrame:
    """Shannon entropy of each document's token distribution (nats):
    H = ln(n) − Σ c·ln(c) / n — the vocabulary-diversity quality
    signal (near-zero = one token repeated; high = diverse text).
    Complements the repetition ratio: entropy sees SKEW in the
    distribution, not just duplicate existence.

    Two chained aggregations that share the doc-id shuffle: per-(doc,
    term) counts, then per-doc sums — both with map-side partials. The
    closed form avoids dividing before the sum, so the only float
    reduction is Σ c·ln(c), rounded at the end.
    """
    counts = (
        df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    return counts.groupBy(id_col).agg(
        F.sum("__c").alias("n_tokens"),
        F.round(
            F.log(F.sum("__c").cast("double"))
            - F.sum(F.col("__c") * F.log("__c")) / F.sum("__c"),
            round_to,
        ).alias("token_entropy"),
    )


def token_budget_selection(df: DataFrame, budget_num: int = 1,
                           budget_den: int = 4,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Greedy data selection under a TOKEN BUDGET: rank the corpus by a
    quality score and keep the best documents until the running token
    count reaches ``budget_num/budget_den`` of the corpus total — the
    "train on the best X% of tokens" selection every budgeted training
    run performs downstream of scoring (DSIR / classifier / heuristic).

    Score here is the integer ``2*n_alpha - n_tokens`` (alpha-dense
    AND long wins); greedy order is (score DESC, id ASC), so the
    selection is total and engine-exact — no float weight is compared
    anywhere. Output: the selected rows as (id, score, n_tokens).

    Scale shape — a naive global ORDER BY + running SUM is a
    single-partition window over the whole corpus, the canonical
    scale-killer. Instead the greedy cut decomposes exactly:

    1. per-score token totals (one narrow shuffle, | distinct scores |
       rows — bounded by the score range, NOT corpus size; the corpus
       total is a window over the SAME small relation, not a second
       corpus pass);
    2. running totals + threshold on that small relation (the only
       single-partition window, driver-scale by construction) yield a
       per-score decision table: fully-selected, or the one boundary
       score with its remaining token allowance;
    3. ONE broadcast join back to the corpus + one narrow window
       (partitioned by score over the already-selected rows) applies
       both decisions — fully-selected rows pass outright, the
       boundary group cuts at its running-sum allowance.

    The r9 form ran the corpus scan (and its tokenization — the
    dominant map cost) once per consumer: per-score agg, corpus
    total, full-score join, boundary join = 4 passes, and the 10x
    scale evidence showed exactly that slope (ratio 4.7). This form
    tokenizes TWICE (the decision branch column-prunes to a text-only
    scan; the join branch reads id+text — measured 10x ratio 2.8,
    halved); the price is that the decision window covers all
    selected rows rather than only the boundary group — a shuffle of
    narrow (id, score, n_tokens) rows, strictly cheaper than the two
    extra tokenizing scans it replaces.

    The DuckDB oracle states the spec form (global ordered cumsum <=
    budget) — identical selection by construction.
    """
    toks = tokens(text_col)
    n_tokens = F.size(toks).cast("long")
    n_alpha = F.size(
        F.filter(toks, lambda t: t.rlike(f"^{WORD_PATTERN}$"))
    ).cast("long")
    stats = df.select(
        F.col(id_col),
        (F.lit(2) * n_alpha - n_tokens).alias("score"),
        n_tokens.alias("n_tokens"),
    )

    per_score = stats.groupBy("score").agg(
        F.sum("n_tokens").alias("grp_tokens")
    )
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    wall = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    budget = F.expr(
        f"(__grand_total * {budget_num}) div {budget_den}"
    )
    decisions = (
        per_score.select(
            "score",
            "grp_tokens",
            F.coalesce(F.sum("grp_tokens").over(w), F.lit(0)).alias(
                "cum_before"
            ),
            F.sum("grp_tokens").over(wall).alias("__grand_total"),
        )
        .filter(F.col("cum_before") < budget)
        .select(
            "score",
            (F.col("cum_before") + F.col("grp_tokens") <= budget).alias(
                "__full"
            ),
            (budget - F.col("cum_before")).alias("__rem"),
        )
    )
    wb = Window.partitionBy("score").orderBy(id_col)
    return (
        stats.join(F.broadcast(decisions), "score")
        .withColumn("__cum", F.sum("n_tokens").over(wb))
        .filter(F.col("__full") | (F.col("__cum") <= F.col("__rem")))
        .select(id_col, "score", "n_tokens")
    )


def cms_heavy_hitters(df: DataFrame, d: int = 4, w: int = 256,
                      threshold_permille: int = 1,
                      text_col: str = "text") -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan '05)
    over word BIGRAMS: estimate per-bigram frequencies through a
    ``d × w`` counter sketch and report every bigram whose ESTIMATE
    reaches ``threshold_permille``‰ of the corpus bigram count, next
    to its exact count and the sketch's error-bound audit — the
    frequent-items primitive (stop-phrase induction, hot-key
    detection, boilerplate discovery) in its honest audit form, like
    ``ana_approx_sketches``: the approximation SHIPS with its exact
    companion and a within-bounds boolean. Bigrams, not unigrams,
    because the key space must EXCEED the sketch width for the
    operator to mean anything: collisions are the thing CMS trades
    for bounded memory, and the audit columns show them happening.

    Hash row ``i`` buckets a bigram by the engine's md5 identity on
    ``'{i}:' || term`` (% w) — deterministic, so the DuckDB oracle
    replays the sketch verbatim and the whole output hash-matches.
    CMS never underestimates; ``within_bound`` checks the additive
    overestimate against ``ceil(3N/w)`` (≥ the e·N/w Markov bound —
    3 keeps the arithmetic integer; exceeding it has probability
    < e^-d per row pair). Thresholding the ESTIMATE, not the exact
    count, mirrors production use: no false negatives vs the same
    threshold on exact counts (collision-inflated near-threshold
    keys surface with a visibly positive ``overestimate``).

    Plan: the bigram build is a zero-shuffle HOF transform; ONE
    corpus-scale map-side-combined count shuffle follows, and every
    later step reads the bounded distinct-bigram relation. Because
    each hash is a pure function of the key, sketch counters are
    derived FROM that count relation (``CMS[i][b] = Σ_{h_i(t)=b}
    count(t)`` — identical to hashing the raw stream), so the d·w-row
    sketch costs one tiny aggregation, broadcasts back for the
    min-of-d lookup, and the corpus total rides a broadcast 1-row
    cross join. At true stream scale the sketch updates directly off
    the token stream and the exact companion (the only reason the
    full count exists) is dropped — the estimate column and bound
    audit are unchanged.

    Returns ``(term, est_count, exact_count, overestimate,
    within_bound)`` — all counter arithmetic BIGINT, no float
    anywhere."""
    tc = (
        bigram_terms(df, text_col)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    hb = _cms_term_buckets(tc, d, w)
    sk = hb.groupBy("i", "b").agg(F.sum("exact_count").alias("cms"))
    return cms_report(tc, sk, d, w, threshold_permille)


def bigram_terms(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Word bigrams as ``(term)`` rows — a guarded zero-shuffle HOF
    transform (docs under 2 tokens yield nothing; empty tokens from
    repeated spaces are filtered before pairing).

    The token array is materialized into its OWN projection first and
    the pairing is a ``zip_with`` of two slices of that column (r18).
    The previous form indexed ``element_at(<split+filter expr>, i)``
    inside a ``transform`` lambda — higher-order lambdas are
    interpreted with no subexpression elimination, so every bigram
    re-ran the full split+filter of the document TWICE: O(tokens²)
    work per document, measured as a 5.3 s scan for 266k bigrams at
    sf0.1 (vs ~0.5 s materialized). The two-step projection is load-
    bearing: CollapseProject keeps it because the token column is
    referenced more than once and the expression is non-cheap."""
    ts = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    toks = df.select(ts.alias("__toks"))
    n = F.size(F.col("__toks"))
    grams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(F.col("__toks"), 1, n - 1),
            F.slice(F.col("__toks"), 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return toks.select(F.explode(grams).alias("term"))


def _cms_term_buckets(tc: DataFrame, d: int, w: int) -> DataFrame:
    """Each distinct term exploded to its ``d`` sketch coordinates:
    ``(term, exact_count, i, b)`` — the ONE definition of the
    term→bucket expansion, shared by the sketch build and the
    min-of-d lookup so the two can never desynchronize."""
    return tc.select(
        "term", "exact_count",
        F.posexplode(cms_bucket_array(d, w)).alias("i", "b"),
    )


def cms_bucket_array(d: int, w: int) -> Column:
    """The ``d`` CMS bucket hashes of the ``term`` column as an array —
    md5_prefix64 of ``'{i}:' || term`` % w, the engine's ONE
    cross-engine hash identity (functions/hashing.py; DuckDB replays
    it verbatim in the oracles)."""
    from ..functions.hashing import md5_prefix64

    return F.array(*[
        md5_prefix64(F.concat(F.lit(f"{i}:"), F.col("term"))) % F.lit(w)
        for i in range(d)
    ])


def cms_report(tc: DataFrame, sk: DataFrame, d: int, w: int,
               threshold_permille: int) -> DataFrame:
    """The CMS heavy-hitter report tail shared by the batch operator
    and the streaming merge drain: min-of-d sketch lookup per distinct
    term, estimate threshold, exact companion and bound audit.
    ``tc`` = (term, exact_count); ``sk`` = (i, b, cms) sketch counters
    — from one aggregation (batch) or summed micro-batch partials
    (streaming; CMS is linear, so the merge is exact)."""
    hb = _cms_term_buckets(tc, d, w)
    est = (
        hb.join(F.broadcast(sk), ["i", "b"])
        .groupBy("term")
        .agg(F.max("exact_count").alias("exact_count"),
             F.min("cms").alias("est_count"))
    )
    totals = tc.agg(F.sum("exact_count").alias("n"))
    return (
        est.crossJoin(F.broadcast(totals))
        .filter(F.col("est_count")
                >= F.greatest(F.expr(f"(n * {int(threshold_permille)}) div 1000"),
                              F.lit(1)))
        .select(
            "term", "est_count", "exact_count",
            (F.col("est_count") - F.col("exact_count")).alias("overestimate"),
            (F.col("est_count")
             <= F.col("exact_count") + F.expr(f"(3 * n + {w - 1}) div {w}")
             ).alias("within_bound"),
        )
    )


def temperature_resample(df: DataFrame, budget: int = 100_000,
                         id_col: str = "doc_id",
                         source_col: str = "source") -> DataFrame:
    """Realize a T=2 temperature mix EXACTLY: turn the per-source
    target counts of the mix-weight computation (the
    ``llm_mix_temperature`` relation — p ∝ n^(1/2) over a ``budget``
    of documents) into per-document COPY counts whose per-source sum
    equals the target to the row. The action half of the mix loop,
    like ``train_bpe`` → ``bpe_encode`` closed the tokenizer loop:
    weights alone don't train a model; an epoch plan does.

    Per source with ``n`` docs and target ``t``: every doc gets
    ``t div n`` copies (upsampled rare sources repeat whole epochs —
    the standard multilingual practice), and the ``t mod n``
    remainder docs getting one extra copy are the first ``t mod n``
    in ``(md5(id), id)`` order — the engine's deterministic draw
    (:func:`sample_k_per_stratum`'s rule), so any engine picks the
    same docs and Σ n_copies == target EXACTLY, per source.
    Downsampling (t < n) is the same formula: 0 base copies, the
    remainder IS the sample.

    Returns every NON-NULL-source corpus row as ``(id, source,
    n_copies)`` — audit form (``n_copies = 0`` rows show what the draw
    excluded; NULL-source rows are excluded from both the weights and
    the output, see the filter below).

    Plan: the target relation is |sources| rows (one partial-agg
    shuffle + broadcast); the remainder draw is one rank window
    partitioned by source. At 100 TB the per-source window partitions
    are the hot spot — the exact fix is the boundary decomposition of
    :func:`token_budget_selection` applied to md5-prefix buckets
    (count per (source, 256-bucket) relation picks the boundary
    bucket; only that bucket ranks); at driver SFs the direct window
    is the honest measured form."""
    # NULL sources are excluded up front (mirrored in the oracle): an
    # un-filtered NULL group would earn weight in z yet never match the
    # final equi-join, silently deflating every real source's target
    df = df.filter(F.col(source_col).isNotNull())
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    sq = counts.withColumn(
        "w_raw", F.round(F.sqrt(F.col("n_docs").cast("double")), 9)
    )
    tot = sq.agg(
        F.sum(F.col("w_raw").cast("decimal(18,9)")).cast("double").alias("z")
    )
    targets = (
        sq.crossJoin(F.broadcast(tot))
        .select(
            source_col, "n_docs",
            F.round(F.lit(budget) * F.col("w_raw") / F.col("z"))
            .cast("bigint").alias("target"),
        )
    )
    w = Window.partitionBy(source_col).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    return (
        df.select(id_col, source_col)
        .join(F.broadcast(targets), source_col)
        .withColumn("__rk", F.row_number().over(w))
        .select(
            id_col, source_col,
            (F.expr("target div n_docs")
             + F.when(F.col("__rk") <= F.expr("target % n_docs"), 1)
                .otherwise(0)).alias("n_copies"),
        )
    )


def zipf_slope(df: DataFrame, text_col: str = "text",
               min_count: int = 1) -> DataFrame:
    """Zipf exponent of the corpus vocabulary → ONE row ``(n_terms,
    zipf_alpha_micro)``: the log-log OLS slope of frequency against
    rank, negated to the conventional positive α (freq ∝ rank^(−α),
    natural language ≈ 1). The corpus-statistics diagnostic behind
    vocabulary sizing and quality triage — a corpus whose α collapses
    toward 0 is boilerplate/spam-flooded (flat head), one far above 1
    is template-dominated (cliff past the head).

    Exactness discipline (the ccnet/psi/mi rule): rank and count are
    identical integers on both engines (rank from
    :func:`vocabulary`'s exact_row_number with its (count DESC, term)
    total order), each ``ln`` term is quantized ONCE to int64
    micro-nats from those identical integers, all five OLS moments are
    exact integer sums, and α is emitted by integral division of two
    nonnegative integers — engine-identical truncation.

    Scale: rides :func:`vocabulary` (one token-count shuffle + the
    offset-ranked window, no single-partition sort even at 1e8 terms);
    the OLS reduction is one map-side-combined aggregate over the
    vocabulary relation. Σ(qx·qy) ≤ |V|·(ln|V|·1e6)·(ln N·1e6) ≈
    1e8·2e7·6e7 ≈ 1e23 — DECIMAL(38,0) accumulators, not BIGINT.
    """
    voc = vocabulary(df, text_col, min_count=min_count)
    # Residual libm risk (r13 ADVICE, accepted as the established
    # ccnet/psi/MI pattern): JVM Math.log and DuckDB ln are each
    # allowed 1-ulp error, so an ln value landing within an ulp of a
    # micro-nat quantization boundary COULD flip one qx/qy unit
    # cross-engine. The inputs are small integers (rank, count) whose
    # ln is never near a representable boundary in practice — no flake
    # observed across the strict sweeps — but a correctly-rounded
    # integer-ln table (the IVF HUGEINT→VARCHAR→DOUBLE hop) is the
    # escape hatch if one ever appears.
    q = voc.select(
        F.floor(F.log(F.col("term_id").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("qx"),
        F.floor(F.log(F.col("count").cast("double")) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("qy"),
    )
    dec = "decimal(19,0)"
    m = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("qx").cast(dec)).alias("sx"),
        F.sum(F.col("qy").cast(dec)).alias("sy"),
        F.sum(F.col("qx").cast(dec) * F.col("qy").cast(dec)).alias("sxy"),
        F.sum(F.col("qx").cast(dec) * F.col("qx").cast(dec)).alias("sxx"),
    )
    # slope is negative for any Zipfian corpus; the negated numerator
    # keeps both integral-division operands nonnegative, so truncation
    # direction can't differ cross-engine even in degenerate corpora
    return m.filter(
        F.expr("cast(n as decimal(19,0)) * sxx - sx * sx") > 0
    ).select(
        F.col("n").alias("n_terms"),
        F.expr(
            "((sx * sy - cast(n as decimal(19,0)) * sxy) * 1000000)"
            " div (cast(n as decimal(19,0)) * sxx - sx * sx)"
        ).alias("zipf_alpha_micro"),
    )


def kl_source_divergence(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         group_col: str = "source") -> DataFrame:
    """Per-source KL divergence of the TOKEN distribution from the
    corpus-wide distribution, in exact integer micro-nats →
    ``(source, n_tokens, n_terms, kl_micro)`` — the curation signal
    for source-level shift in TOKEN space (the drift family watches a
    numeric column like length; this watches what the source actually
    says: a source full of boilerplate, code, or another register
    shows a large KL even when its length distribution is unremarkable
    — which source do I downweight before it skews the LM).

    ``KL(p_src ‖ p_corpus) = Σ_t (c_st/n_s)·ln((c_st·n)/(n_s·c_t))``
    over the source's observed terms (unseen terms contribute 0 from
    the source side; p_corpus(t) > 0 whenever c_st > 0, so no
    smoothing is needed and every term is finite). The ccnet/MI
    micro-unit discipline: each cell's term is computed from identical
    integers through identical correctly-rounded double ops and
    quantized ONCE (mode-stable ``floor(x·1e6 + 0.5)``, safe for the
    slightly-negative cells a common term can contribute), then the
    per-source reduction is an exact int64 SUM — no parallel float
    accumulation anywhere.

    Plan: one scan + explode to the (source, term) cell relation
    (|sources| × |vocab|, Zipf-bounded — never the corpus), source
    margins as a window partitioned BY SOURCE over the cells, term
    margins partitioned BY TERM, and the grand total as a 1-row
    broadcast (NOT a whole-relation window — the cell relation can be
    vocab-sized, and a single-partition window over it would be the
    plan defect the MI margin-as-join lesson warns about).
    """
    toks = (
        df.filter(F.col(group_col).isNotNull())
        .select(F.col(group_col).alias("g"),
                F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
    )
    cells = toks.groupBy("g", "term").agg(F.count(F.lit(1)).alias("o"))
    tot = cells.agg(F.sum("o").alias("n"))
    enriched = (
        cells.withColumn(
            "ns", F.sum("o").over(Window.partitionBy("g"))
        )
        .withColumn("ct", F.sum("o").over(Window.partitionBy("term")))
        .crossJoin(F.broadcast(tot))
    )
    od, nsd = F.col("o").cast("double"), F.col("ns").cast("double")
    ctd, nd = F.col("ct").cast("double"), F.col("n").cast("double")
    kl_cell = F.floor(
        (od / nsd) * F.log((od * nd) / (nsd * ctd)) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        enriched.select("g", "ns", kl_cell.alias("kc"))
        .groupBy("g", "ns")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("kc").alias("kl_micro"),
        )
        .select(
            F.col("g").alias(group_col),
            F.col("ns").alias("n_tokens"),
            "n_terms",
            "kl_micro",
        )
    )
