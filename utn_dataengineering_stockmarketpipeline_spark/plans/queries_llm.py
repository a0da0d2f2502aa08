"""LLM training-data pipeline queries (dedup, similarity search, text
analysis, multimodal) — the north-star extension operators
(SURVEY.md §7 phase 5; not reference behavior).

DuckDB oracles are generated programmatically where the SQL would be
repetitive (MinHash permutations, SimHash bits) — both sides derive
every hash from MD5, so even the LSH bucketing is value-checked
cross-engine, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import M31, M31_2, SHINGLE_B, SHINGLE_B2, perm_seeds
from ..operators import dedup, similarity, text
from ..session import local_df
from ..sources.parquet import load_table
from .catalog import register

# --- shared DuckDB SQL fragments -------------------------------------------

# 60-bit int from md5 — mirrors functions/hashing.py:md5_prefix64.
def _h60(expr: str) -> str:
    return f"('0x' || substr(md5({expr}), 1, 15))::BIGINT"


_TOKS = "string_split(text, ' ')"

_NUM_PERMS = 8
_BANDS = 4
_SIMHASH_BITS = 16

# Shingle hashes mirroring hashing.shingle_hash_rows: one 31-bit MD5
# hash per TOKEN, k consecutive token hashes composed polynomially
# ((acc*B + th) mod M31) — shingle strings never exist on either
# engine. All int64-exact (products < 2^62).
_TH = f"list_transform({_TOKS}, t -> {_h60('t')} % {M31})"


def _fold(elems: list[str], base: int = SHINGLE_B, mod: int = M31) -> str:
    acc = None
    for e in elems:
        acc = e if acc is None else f"(({acc}) * {base} + {e}) % {mod}"
    return acc


# 1-based list positions; docs with < 3 tokens fold all their tokens.
_SHINGLE_HASHES = f"""
CASE len(th)
  WHEN 1 THEN [{_fold(["th[1]"])}]
  WHEN 2 THEN [{_fold(["th[1]", "th[2]"])}]
  ELSE list_transform(generate_series(1, len(th) - 2),
                      i -> {_fold(["th[i]", "th[i+1]", "th[i+2]"])})
END"""

_HS_CTES = f"""
tok AS (SELECT doc_id, {_TH} AS th FROM documents),
hsh AS (SELECT doc_id, {_SHINGLE_HASHES} AS hs FROM tok)"""

# MinHash signature: element i = min over shingle hashes of
# (a_i*h + b_i) mod M31 (hashing.perm_seeds).
_SIG_SQL = (
    "["
    + ", ".join(
        f"list_min(list_transform(hs, h -> (h * {a} + {b}) % {M31}))"
        for a, b in perm_seeds(_NUM_PERMS)
    )
    + "]"
)


# --- exact dedup ------------------------------------------------------------

@register(
    "llm_dedup_exact",
    """
SELECT md5(text) AS fingerprint, MIN(doc_id) AS canonical_id,
       COUNT(*) AS dup_count
FROM documents GROUP BY md5(text)
""",
    doc="exact dedup via MD5 fingerprint hash-groupBy; map-side combine "
        "collapses duplicates before the shuffle",
    tags=("llm", "dedup"),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(load_table(spark, sf_dir, "documents"))


# --- MinHash / LSH ----------------------------------------------------------

@register(
    "llm_minhash_signatures",
    f"""
WITH {_HS_CTES.strip()},
sig AS (SELECT doc_id, {_SIG_SQL} AS sig FROM hsh)
SELECT doc_id, {", ".join(f"sig[{i + 1}] AS mh_{i}" for i in range(_NUM_PERMS))}
FROM sig
""",
    doc="MinHash signatures (8 arithmetic min-wise perms over "
        "token-hash-composed word 3-shingles, one MD5 per token), wide "
        "(mh_0..mh_7) — value-checks the whole hash pipeline cross-engine",
    tags=("llm", "dedup", "minhash"),
)
def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_signatures(docs, num_perms=_NUM_PERMS)


_BANDED_CTE = f"""
{_HS_CTES.strip()},
sig AS (SELECT doc_id, {_SIG_SQL} AS sig FROM hsh),
banded_all AS (
  SELECT doc_id, sig, CAST(b AS INT) AS band,
         md5(CAST(sig[b * 2 + 1] AS VARCHAR) || '_' ||
             CAST(sig[b * 2 + 2] AS VARCHAR)) AS bucket
  FROM sig CROSS JOIN range({_BANDS}) t(b)),
banded AS (
  -- mirror of operators/dedup.DEFAULT_MAX_BUCKET_SIZE: the Spark plan
  -- drops over-cap LSH buckets (skew guard), so the oracle must too or
  -- the two sides diverge by construction on boilerplate-heavy corpora
  SELECT doc_id, sig, band, bucket FROM banded_all
  QUALIFY COUNT(*) OVER (PARTITION BY band, bucket)
          <= {dedup.DEFAULT_MAX_BUCKET_SIZE})
"""


@register(
    "llm_minhash_lsh_pairs",
    f"""
WITH {_BANDED_CTE}
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(list_sum(list_transform(list_zip(a.sig, b.sig),
                     z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END))
            AS DOUBLE) / {_NUM_PERMS} AS est_jaccard
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
""",
    doc="MinHash-LSH candidate pairs (4 bands × 2 rows) with estimated "
        "Jaccard; bucket self-join scales with collisions, not n²",
    tags=("llm", "dedup", "minhash", "lsh"),
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidates(
        load_table(spark, sf_dir, "documents"),
        num_perms=_NUM_PERMS,
        bands=_BANDS,
    )


@register(
    "llm_dup_clusters",
    f"""
WITH RECURSIVE {_BANDED_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
SELECT id AS doc_id, MIN(label) AS cluster_id
FROM reach GROUP BY id
""",
    doc="duplicate clusters: connected components over the MinHash-LSH "
        "pair graph via iterative min-label propagation (one shuffle "
        "per round, O(diameter) rounds) — turns pairwise near-dup "
        "output into keep-one-per-group; oracle is DuckDB's recursive "
        "transitive closure over the identical pair graph",
    tags=("llm", "dedup", "graph", "iterative"),
)
def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidates(docs, num_perms=_NUM_PERMS, bands=_BANDS)
    return dedup.duplicate_clusters(pairs, docs)


@register(
    "llm_dedup_keep_one",
    f"""
WITH RECURSIVE {_BANDED_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY id),
sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
          FROM clusters GROUP BY cluster_id)
SELECT d.doc_id, md5(d.text) AS fingerprint, s.n_members
FROM documents d
JOIN clusters c ON c.doc_id = d.doc_id AND c.cluster_id = d.doc_id
JOIN sizes s ON s.cluster_id = d.doc_id
""",
    doc="the dedup ACTION downstream of llm_dup_clusters: keep exactly "
        "the min-id survivor per duplicate cluster (cluster_id IS the "
        "min reachable id, so survivors are id==cluster_id — a filter, "
        "not another shuffle) with cluster size for audit; oracle is "
        "min-id selection over the recursive-CTE transitive closure",
    tags=("llm", "dedup", "graph"),
)
def q_dedup_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidates(docs, num_perms=_NUM_PERMS, bands=_BANDS)
    clusters = dedup.duplicate_clusters(pairs, docs)
    kept = dedup.keep_one_per_cluster(docs, clusters)
    return kept.select(
        "doc_id", F.md5("text").alias("fingerprint"), "n_members"
    )


@register(
    "llm_ngram_jaccard_pairs",
    f"""
WITH {_HS_CTES.strip()},
sh AS (SELECT DISTINCT doc_id, s
       FROM (SELECT doc_id, unnest(hs) AS s FROM hsh)),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT id_a, id_b,
       CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) AS jaccard
FROM shared
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared) >= 0.2
""",
    doc="exact n-gram Jaccard over shared-shingle pairs — the verifier "
        "behind MinHash's estimate; pure integer counting",
    tags=("llm", "dedup", "jaccard"),
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.2
    )


# --- exact substring dedup ---------------------------------------------------

_SUB_K = 8


def _fold_at(i_expr: str, k: int, base: int = SHINGLE_B,
             mod: int = M31) -> str:
    """Polynomial fold of th[i .. i+k-1] — the k-gram hash at 1-based
    list position ``i_expr`` (mirror of hashing.shingle_hash_rows)."""
    return _fold([f"th[{i_expr}+{j}]" if j else f"th[{i_expr}]"
                  for j in range(k)], base, mod)


# Shared CTE chain for the substring-dedup family (detector + scrub):
# token hashes -> positioned dual-fold k-gram hashes -> frequency cap ->
# aligned matches -> diagonal runs -> maximal spans with start position.
_SUB_CTES = f"""
tok AS (SELECT doc_id, {_TH} AS th FROM documents),
gl AS (SELECT doc_id,
              list_transform(generate_series(1, len(th) - {_SUB_K - 1}),
                             i -> {_fold_at('i', _SUB_K)}) AS gs,
              list_transform(generate_series(1, len(th) - {_SUB_K - 1}),
                             i -> {_fold_at('i', _SUB_K, SHINGLE_B2, M31_2)}
                             ) AS gs2
       FROM tok WHERE len(th) >= {_SUB_K}),
g0 AS (SELECT doc_id, pos - 1 AS pos, gs[pos] AS h, gs2[pos] AS h2
       FROM gl, UNNEST(generate_series(1, len(gs))) AS u(pos)),
ok AS (SELECT h, h2 FROM g0 GROUP BY h, h2
       HAVING COUNT(*) <= {dedup.DEFAULT_MAX_BUCKET_SIZE}),
g AS (SELECT g0.doc_id, g0.pos, g0.h, g0.h2 FROM g0 JOIN ok USING (h, h2)),
m AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pos_a, a.pos - b.pos AS diag
      FROM g a JOIN g b ON a.h = b.h AND a.h2 = b.h2
                       AND a.doc_id < b.doc_id),
runs AS (SELECT id_a, id_b, diag, pos_a,
                pos_a - ROW_NUMBER() OVER (
                  PARTITION BY id_a, id_b, diag ORDER BY pos_a) AS island
         FROM m),
spans AS (SELECT id_a, id_b, diag, island, COUNT(*) AS run_len,
                 MIN(pos_a) AS start_a
          FROM runs GROUP BY id_a, id_b, diag, island)"""


@register(
    "llm_substring_dedup",
    f"""
WITH {_SUB_CTES.strip()}
SELECT id_a, id_b,
       CAST(SUM(run_len) AS BIGINT) AS n_shared_grams,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST({_SUB_K - 1} + MAX(run_len) AS BIGINT) AS max_span_tokens
FROM spans GROUP BY id_a, id_b
""",
    doc="exact substring dedup (Lee et al. '21): pairs sharing a "
        f"verbatim >= {_SUB_K}-token span, with the exact longest-span "
        "length via diagonal run detection over positioned k-gram hash "
        "matches — the dedup mode MinHash misses (a long verbatim "
        "passage inside otherwise-different docs); frequency-capped "
        "grams mirror the LSH skew guard",
    tags=("llm", "dedup", "substring", "exact"),
)
def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_duplicate_pairs(
        load_table(spark, sf_dir, "documents"), k=_SUB_K
    )


@register(
    "llm_substring_scrub",
    f"""
WITH {_SUB_CTES.strip()},
iv AS (SELECT id_b AS doc_id, start_a - diag AS s,
              start_a - diag + run_len + {_SUB_K - 1} AS e
       FROM spans),
o AS (SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_max_e
      FROM iv),
grp AS (SELECT doc_id, s, e,
               SUM(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                        THEN 1 ELSE 0 END)
                 OVER (PARTITION BY doc_id ORDER BY s, e) AS gid
        FROM o),
miv AS (SELECT doc_id, MIN(s) AS s, MAX(e) AS e
        FROM grp GROUP BY doc_id, gid),
st AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans_removed,
              CAST(SUM(e - s) AS BIGINT) AS n_tokens_removed
       FROM miv GROUP BY doc_id),
tkl AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
tk AS (SELECT doc_id, ts[p] AS t, p - 1 AS p0
       FROM tkl, UNNEST(generate_series(1, len(ts))) u(p)),
kp AS (SELECT tk.doc_id, string_agg(tk.t, ' ' ORDER BY tk.p0) AS text
       FROM tk
       WHERE NOT EXISTS (SELECT 1 FROM miv
                         WHERE miv.doc_id = tk.doc_id
                           AND tk.p0 >= miv.s AND tk.p0 < miv.e)
       GROUP BY tk.doc_id)
SELECT d.doc_id,
       CASE WHEN st.doc_id IS NULL THEN d.text
            ELSE COALESCE(kp.text, '') END AS text,
       COALESCE(st.n_spans_removed, 0) AS n_spans_removed,
       COALESCE(st.n_tokens_removed, 0) AS n_tokens_removed
FROM documents d
LEFT JOIN st ON st.doc_id = d.doc_id
LEFT JOIN kp ON kp.doc_id = d.doc_id
""",
    doc="the substring-dedup ACTION (Lee et al. '21 §4 — the paper "
        "rewrites the corpus, it doesn't list pairs): every verbatim "
        f">= {_SUB_K}-token span also present in a lower-id doc is cut "
        "from the higher doc (lowest-id occurrence survives — the "
        "span-level keep-one). Removal intervals merge per doc with an "
        "in-row sorted sweep (zero extra shuffle), text rebuilds by "
        "position filter; full corpus-rewrite output "
        "(operators/dedup.substring_scrub)",
    tags=("llm", "dedup", "substring", "action"),
)
def q_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.substring_scrub(
        load_table(spark, sf_dir, "documents"), k=_SUB_K
    )


# --- SimHash ----------------------------------------------------------------

def _simhash_sql(bits: int) -> str:
    """Generate the DuckDB SimHash expression (mirrors hashing.simhash)."""
    terms = []
    for j in range(bits):
        vote = (
            f"list_sum(list_transform(toks, t -> CASE WHEN "
            f"({_h60('t')} & {1 << j}) != 0 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN {1 << j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


@register(
    "llm_simhash",
    f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
SELECT doc_id, {_simhash_sql(_SIMHASH_BITS)} AS simhash FROM tok
""",
    doc="SimHash fingerprint (16-bit, per-token MD5 votes) — Charikar '02; "
        "all JVM-side expression, no UDF",
    tags=("llm", "dedup", "simhash"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_values(
        load_table(spark, sf_dir, "documents"), bits=_SIMHASH_BITS
    )


@register(
    "llm_simhash_near_pairs",
    f"""
WITH tok AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
hs AS (SELECT doc_id, {_simhash_sql(_SIMHASH_BITS)} AS simhash FROM tok),
halves AS (SELECT doc_id, simhash,
                  simhash & {(1 << (_SIMHASH_BITS // 2)) - 1} AS h_lo,
                  simhash >> {_SIMHASH_BITS // 2} AS h_hi
           FROM hs),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         bit_count(xor(a.simhash, b.simhash)) AS hamming
  FROM halves a JOIN halves b
    ON a.h_lo = b.h_lo AND a.doc_id < b.doc_id
  UNION
  SELECT a.doc_id, b.doc_id, bit_count(xor(a.simhash, b.simhash))
  FROM halves a JOIN halves b
    ON a.h_hi = b.h_hi AND a.doc_id < b.doc_id)
SELECT id_a, id_b, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= 2
""",
    doc="SimHash near-dup pairs: pigeonhole half-signature equi-joins "
        "(never an OR-join → no nested-loop), verify with xor+bit_count",
    tags=("llm", "dedup", "simhash"),
)
def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"),
        bits=_SIMHASH_BITS,
        max_hamming=2,
    )
    return pairs.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --- text analysis ----------------------------------------------------------

@register(
    "llm_token_stats",
    rf"""
SELECT doc_id,
       CAST(len({_TOKS}) AS INT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]'))
            AS INT) AS bpe_ish_tokens
FROM documents
""",
    doc="token counting: whitespace + BPE-ish regex (letter runs / digit "
        "runs / symbols) for training-budget estimation",
    tags=("llm", "text"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.token_stats(docs, "text").select(
        "doc_id",
        F.col("ws_tokens").cast("int").alias("ws_tokens"),
        F.col("bpe_ish_tokens").cast("int").alias("bpe_ish_tokens"),
    )


# --- deterministic BPE tokenizer ---------------------------------------------

def _bpe_len_sql(expr: str) -> str:
    """DuckDB mirror of text.bpe_encode + length: the identical chain
    of leftmost-non-overlapping replace() calls in merge-rank order."""
    e = expr
    for pair, sym in text.BPE_MERGES:
        e = f"replace({e}, '{pair}', '{sym}')"
    return f"len({e})"


@register(
    "llm_bpe_tokens",
    f"""
SELECT doc_id,
       CAST(len({_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(list_sum(list_transform({_TOKS},
                                    w -> {_bpe_len_sql('w')}))
            AS BIGINT) AS bpe_tokens,
       round(CAST(list_sum(list_transform({_TOKS},
                                          w -> {_bpe_len_sql('w')}))
                  AS DOUBLE) / len({_TOKS}), 6) AS bpe_per_ws
FROM documents
""",
    doc="REAL subword token counts via deterministic BPE (Sennrich "
        "'16): encode = chained 2-char->1-char replace() in merge-rank "
        "order (provably equal to lowest-rank-first BPE: later symbols "
        "cannot create earlier pairs), merge table = fixed shipped "
        "artifact (output of text.train_bpe, re-trained byte-identical "
        "in tests). Zero-shuffle codegen map stage; the count a "
        "training job's sequence budget actually sees, vs the "
        "whitespace/regex estimators of llm_token_stats",
    tags=("llm", "text", "bpe", "tokenizer"),
)
def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.bpe_token_stats(docs, "text").select(
        "doc_id", "ws_tokens", "bpe_tokens", "bpe_per_ws"
    )


def _bpe_train_oracle_sql(n_merges: int = 8) -> str:
    """llm_bpe_train oracle: unrolled merge rounds as chained
    MATERIALIZED CTEs (the IVF k-means oracle trick applied to BPE).
    Round t: weighted adjacent-pair counts over the vocab (all symbols
    are single chars, so pairs are substr(w, i, 2)), argmax with
    (count DESC, pair ASC) tie-break via ORDER BY ... LIMIT 1, then
    leftmost-non-overlapping replace() rewrites the vocab — the exact
    loop text.train_bpe runs driver-side."""
    syms = text.BPE_SYMBOLS
    ctes = ["""v0 AS MATERIALIZED (
  SELECT w, COUNT(*) AS c
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w)"""]
    for t in range(n_merges):
        ctes.append(f"""p{t} AS MATERIALIZED (
  SELECT substr(w, CAST(i AS INT), 2) AS pair, SUM(c) AS cnt
  FROM v{t}, UNNEST(generate_series(1, length(w) - 1)) u(i)
  GROUP BY substr(w, CAST(i AS INT), 2))""")
        ctes.append(f"""b{t} AS MATERIALIZED (
  SELECT pair FROM p{t} ORDER BY cnt DESC, pair LIMIT 1)""")
        ctes.append(f"""v{t + 1} AS MATERIALIZED (
  SELECT replace(w, (SELECT pair FROM b{t}), '{syms[t]}') AS w,
         SUM(c) AS c
  FROM v{t}
  GROUP BY replace(w, (SELECT pair FROM b{t}), '{syms[t]}'))""")
    finals = "\nUNION ALL\n".join(
        f"SELECT {t + 1} AS merge_rank, (SELECT pair FROM b{t}) AS pair, "
        f"'{syms[t]}' AS symbol"
        for t in range(n_merges)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


@register(
    "llm_bpe_train",
    _bpe_train_oracle_sql(),
    doc="BPE merge-table TRAINING (text.train_bpe, Sennrich '16) as an "
        "oracled query — the induction step that produces the artifact "
        "llm_bpe_tokens applies, closing the tokenizer loop "
        "(train -> ship -> encode). Distributed part: ONE map-side-"
        "combined word-frequency aggregation; the merge loop runs "
        "driver-side over the BOUNDED distinct vocabulary "
        "(MAX_BPE_VOCAB_ROWS, raises past it — the train-on-sample / "
        "apply-at-scale split every real tokenizer uses). Fully "
        "deterministic: ties break to the lexicographically smallest "
        "pair, so the oracle's unrolled per-round CTEs (weighted pair "
        "count -> ORDER BY cnt DESC, pair LIMIT 1 -> vocab rewrite) "
        "reproduce the table byte-for-byte",
    tags=("llm", "text", "bpe", "tokenizer"),
)
def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    merges = text.train_bpe(docs, n_merges=8)
    rows = [
        (i + 1, pair, sym) for i, (pair, sym) in enumerate(merges)
    ]
    return local_df(spark, rows, "merge_rank int, pair string, symbol string")


_STOPS_SQL = "[" + ", ".join(f"'{w}'" for w in text.ENGLISH_STOPWORDS) + "]"


@register(
    "llm_text_quality",
    f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS q_n_chars,
       CAST(len({_TOKS}) AS INT) AS q_n_tokens,
       CAST(length(text) - len({_TOKS}) + 1 AS DOUBLE) / len({_TOKS})
         AS q_mean_token_len,
       CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
         / len({_TOKS}) AS q_punct_ratio,
       CAST(len(list_filter({_TOKS}, t -> list_contains({_STOPS_SQL}, t)))
            AS DOUBLE) / len({_TOKS}) AS q_stopword_ratio,
       CAST(len(list_filter({_TOKS}, t -> regexp_full_match(t, '[a-zA-Z]+')))
            AS DOUBLE) / len({_TOKS}) AS q_alpha_ratio
FROM documents
""",
    doc="Gopher/C4-style quality signals: length, mean token length, "
        "punctuation density, stopword ratio, alpha-token ratio — exact "
        "integer counts, deterministic ratios",
    tags=("llm", "text", "quality"),
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    out = text.quality_features(docs, "text")
    return out.select(
        "doc_id",
        "q_n_chars",
        F.col("q_n_tokens").cast("int").alias("q_n_tokens"),
        "q_mean_token_len",
        "q_punct_ratio",
        "q_stopword_ratio",
        "q_alpha_ratio",
    )


def _lang_id_sql() -> str:
    score = {
        lang: (
            f"len(list_filter({_TOKS}, t -> list_contains(["
            + ", ".join(f"'{w}'" for w in markers)
            + "], t)))"
        )
        for lang, markers in text.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    whens = " ".join(
        f"WHEN {score[lang]} = {best} AND {best} > 0 THEN '{lang}'"
        for lang in text.LANG_MARKERS
    )
    return f"CASE {whens} ELSE 'und' END"


@register(
    "llm_lang_id",
    f"""
SELECT doc_id, lang AS lang_true, {_lang_id_sql()} AS lang_pred
FROM documents
""",
    doc="language-ID heuristic: argmax of per-language marker-word counts "
        "(first-wins ties, 'und' on zero evidence)",
    tags=("llm", "text", "langid"),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_true"),
        text.lang_id("text").alias("lang_pred"),
    )


@register(
    "llm_doc_fingerprint",
    f"""
SELECT doc_id, md5(text) AS fp_md5, {_h60('text')} AS fp_int60,
       CAST(length(text) // 64 AS INT) AS fp_len_bucket
FROM documents
""",
    doc="document fingerprinting: MD5 + 60-bit int form + length bucket "
        "for blocking",
    tags=("llm", "text", "fingerprint"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.fingerprint(docs, "text").select(
        "doc_id", "fp_md5", "fp_int60", "fp_len_bucket"
    )


_WIN_W = 4


@register(
    "llm_winnowing_fingerprints",
    f"""
WITH {_HS_CTES.strip()},
ex AS (SELECT doc_id, pos, hs[pos] AS h
       FROM hsh, UNNEST(generate_series(1, len(hs))) AS t(pos)),
win AS (SELECT doc_id, pos,
               MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {_WIN_W - 1} FOLLOWING) AS fp,
               COUNT(*) OVER (PARTITION BY doc_id) AS n
        FROM ex)
SELECT DISTINCT doc_id, fp FROM win
WHERE pos - 1 <= greatest(n - {_WIN_W}, 0)
""",
    doc="winnowing rolling-hash fingerprints (Schleimer '03): window-min "
        "over k-shingle hashes, distinct — any shared substring of "
        "length >= k+w-1 yields a common fingerprint",
    tags=("llm", "text", "fingerprint", "winnowing"),
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.winnowing_fingerprints(docs, window=_WIN_W)


# --- similarity search ------------------------------------------------------

_DOT = (
    "CAST(list_sum(list_transform(list_zip({a}, {b}), "
    "z -> z[1]::DOUBLE * z[2]::DOUBLE)) AS DOUBLE)"
)


def _cos_sql(a: str, b: str) -> str:
    dot = _DOT.format(a=a, b=b)
    na = f"sqrt({_DOT.format(a=a, b=a)})"
    nb = f"sqrt({_DOT.format(a=b, b=b)})"
    return f"round({dot} / ({na} * {nb}), 6)"


@register(
    "llm_cosine_topk",
    f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS q_vec
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS c_vec FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id, {_cos_sql('q_vec', 'c_vec')} AS cosine
  FROM q CROSS JOIN c WHERE query_id != neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) WHERE rk <= 5
""",
    doc="brute-force cosine top-5 (exact ANN baseline): corpus broadcast, "
        "dot products as codegen'd zip_with/aggregate — no UDF, no Arrow hop",
    tags=("llm", "similarity", "ann"),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), k=5
    )


@register(
    "llm_embedding_norms",
    """
SELECT vec_id, CAST(len(embedding) AS INT) AS dim,
       round(sqrt(CAST(list_sum(list_transform(embedding,
             x -> x::DOUBLE * x::DOUBLE)) AS DOUBLE)), 6) AS l2_norm
FROM embeddings
""",
    doc="embedding QA projection: dimension + L2 norm",
    tags=("llm", "similarity"),
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_norms(load_table(spark, sf_dir, "embeddings"))


@register(
    "llm_embedding_near_dup",
    f"""
WITH p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         {_cos_sql('a.embedding', 'b.embedding')} AS cosine
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM p WHERE cosine >= 0.4
""",
    doc="embedding-cosine near-dup pairs (exact baseline): broadcast "
        "self-join, codegen'd dot products, cosine >= 0.4",
    tags=("llm", "dedup", "similarity"),
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=0.4
    )


def _planes_values_cte(dim: int, n_planes: int) -> str:
    """DuckDB VALUES CTE of the deterministic MD5 hyperplane family —
    the planes are pure functions of (plane, dim), so both engines can
    materialize IDENTICAL constants and the LSH bucket ids become an
    exact cross-engine identity, not an approximation to tolerate."""
    from ..operators.similarity import _hyperplane

    rows = []
    for p in range(n_planes):
        arr = "[" + ",".join(repr(v) for v in _hyperplane(dim, p)) + "]"
        rows.append(f"({p},{arr}::DOUBLE[])")
    return "planes(plane, w) AS (VALUES " + ",".join(rows) + ")"


# Shared bucket pipeline: 8 tables x 4 planes over dim-64 embeddings —
# bit p of table t = sign of the dot with plane t*4+p, exactly
# similarity.table_buckets_blas's layout.
_LSH_BUCKETS_CTES = f"""
{_planes_values_cte(64, 32)},
dots AS (
  SELECT e.vec_id, p.plane,
         CAST(list_sum(list_transform(list_zip(e.embedding, p.w),
              z -> z[1]::DOUBLE * z[2]::DOUBLE)) AS DOUBLE) AS dot
  FROM embeddings e CROSS JOIN planes p),
buckets AS (
  -- sign of the QUANTIZED dot (6 dp), matching the Spark side: raw
  -- sign would rest on no dot landing within summation-order drift of 0
  SELECT vec_id, plane // 4 AS tbl,
         CAST(SUM(CASE WHEN round(dot, 6) >= 0 THEN 1 << (plane % 4)
                       ELSE 0 END) AS INT) AS bucket
  FROM dots GROUP BY vec_id, plane // 4)
"""


@register(
    "llm_embedding_near_dup_lsh",
    f"""
WITH {_LSH_BUCKETS_CTES.strip()},
sized AS (
  SELECT tbl, bucket, COUNT(*) AS sz FROM buckets GROUP BY tbl, bucket),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a
  JOIN sized s ON s.tbl = a.tbl AND s.bucket = a.bucket
              AND s.sz <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
  JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id)
SELECT id_a, id_b, cosine FROM (
  SELECT c.id_a, c.id_b,
         {_cos_sql('ea.embedding', 'eb.embedding')} AS cosine
  FROM cand c
  JOIN embeddings ea ON ea.vec_id = c.id_a
  JOIN embeddings eb ON eb.vec_id = c.id_b)
WHERE cosine >= 0.4
""",
    doc="banded sign-LSH embedding near-dup (scale path): 8 tables x 4 "
        "deterministic hyperplanes, any-table collision -> exact "
        "verify, skew cap mirrored in the oracle. planes_per_table "
        "PINNED to 4 here so the MD5 plane family is a static "
        "cross-engine constant (the operator default auto-tunes "
        "2^planes ~ n/64 — same value at the driver SFs; the bench "
        "scale-evidence path exercises the auto rule)",
    tags=("llm", "dedup", "similarity", "lsh"),
)
def q_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_near_dup_pairs_lsh(
        load_table(spark, sf_dir, "embeddings"), dim=64, threshold=0.4,
        planes_per_table=4,
    )


@register(
    "llm_ann_lsh_topk",
    f"""
WITH {_LSH_BUCKETS_CTES.strip()},
cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM buckets q
  JOIN buckets c ON q.tbl = c.tbl AND q.bucket = c.bucket
                AND q.vec_id != c.vec_id
  WHERE q.vec_id < 10),
scored AS (
  SELECT cd.query_id, cd.neighbor_id,
         {_cos_sql('ea.embedding', 'eb.embedding')} AS cosine
  FROM cand cd
  JOIN embeddings ea ON ea.vec_id = cd.query_id
  JOIN embeddings eb ON eb.vec_id = cd.neighbor_id)
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) WHERE rk <= 5
""",
    doc="sign-LSH bucketed ANN (scale path): deterministic MD5-derived "
        "hyperplanes, bucket equi-join, exact in-bucket re-rank — the "
        "bucket ids are cross-engine constants, so the whole candidate "
        "set (not just recall) is oracle-verified",
    tags=("llm", "similarity", "ann", "lsh"),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), dim=64, k=5
    )


def _ivf_assign_ctes(dim: int = 64, n_centroids: int = 16,
                     iters: int = 5) -> list:
    """Shared CTE chain replaying similarity.train_centroids +
    assign_centroids in DuckDB: normalize/quantize → unrolled k-means
    → corpus assignment ``ac(neighbor_id, c)``. Both IVF-family
    oracles (llm_ann_ivf_topk, llm_semantic_dedup) append their own
    tail to this chain. Exact, not approximate-tolerant, because the
    whole index is deterministic and quantized:

    - train sample: at driver SFs the corpus (<= train_sample_rows)
      IS the sample, so 'first 65,536 by hash order' reduces to 'all
      rows'; k-means init = the n_centroids lowest vec_ids.
    - every normalized vector rounds to IVF_ROUND_VEC dp, every
      similarity/centroid to IVF_ROUND_SIM dp on BOTH engines, so
      summation-order drift (BLAS vs list_sum) cannot flip an
      assignment; argmax ties break to the lowest centroid index
      (np.argmax first-max == ROW_NUMBER ORDER BY sim DESC, c).
    - centroid update: normalized member mean, rounded; empty or
      zero-norm clusters keep their previous centroid (LEFT JOIN +
      COALESCE mirrors the numpy guard).
    Final pair scoring reuses _cos_sql over the RAW embeddings, the
    same identity the LSH oracles rely on.

    Every CTE is AS MATERIALIZED: DuckDB inlines plain CTEs, and with
    c{{t}} referenced twice per iteration the expression tree doubles
    per unrolled round — 32 replays of the whole chain by iteration 5
    (measured 32 s -> 0.4 s at sf0.01 with materialization).
    """
    from ..operators.similarity import IVF_ROUND_SIM, IVF_ROUND_VEC

    dot_nc = ("list_sum(list_transform(list_zip(n.v, c.v), "
              "z -> z[1]::DOUBLE * z[2]::DOUBLE))")
    ctes = [f"""norm AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
         x -> round(x::DOUBLE / sqrt(list_sum(list_transform(embedding,
              y -> y::DOUBLE * y::DOUBLE))), {IVF_ROUND_VEC})) AS v
  FROM embeddings)""", f"""c0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, v
  FROM norm ORDER BY vec_id LIMIT {n_centroids})"""]
    for t in range(iters):
        ctes.append(f"""a{t} AS MATERIALIZED (
  SELECT vec_id, v, c FROM (
    SELECT n.vec_id, n.v, c.c,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY round({dot_nc}, {IVF_ROUND_SIM}) DESC, c.c) AS rk
    FROM norm n CROSS JOIN c{t} c) WHERE rk = 1)""")
        # EXACT integer member sums (micro-units of 1e-{IVF_ROUND_VEC}):
        # a double SUM here is parallel-aggregation-order-dependent in
        # DuckDB and wobbled a 6dp centroid quantum run-to-run (r10
        # flake); the norm rides HUGEINT squares with a VARCHAR->DOUBLE
        # hop because both that route and python's float(int) are
        # correctly rounded (plain HUGEINT->DOUBLE is not)
        ctes.append(f"""s{t} AS MATERIALIZED (
  SELECT c, i, SUM(CAST(round(v[i] * {10 ** IVF_ROUND_VEC}) AS BIGINT)) AS s
  FROM a{t} CROSS JOIN range(1, {dim + 1}) r(i) GROUP BY c, i)""")
        ctes.append(f"""u{t} AS MATERIALIZED (
  SELECT s.c,
         list(round(CAST(s.s AS DOUBLE) / n.nrm, {IVF_ROUND_SIM})
              ORDER BY s.i) AS v
  FROM s{t} s
  JOIN (SELECT c,
               sqrt(CAST(CAST(SUM(CAST(s AS HUGEINT) * s) AS VARCHAR)
                         AS DOUBLE)) AS nrm
        FROM s{t} GROUP BY c) n USING (c)
  WHERE n.nrm > 0 GROUP BY s.c)""")
        ctes.append(f"""c{t + 1} AS MATERIALIZED (
  SELECT co.c, COALESCE(u.v, co.v) AS v
  FROM c{t} co LEFT JOIN u{t} u USING (c))""")
    cf = f"c{iters}"
    ctes.append(f"""ac AS MATERIALIZED (
  SELECT vec_id AS neighbor_id, c FROM (
    SELECT n.vec_id, c.c,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY round({dot_nc}, {IVF_ROUND_SIM}) DESC, c.c) AS rk
    FROM norm n CROSS JOIN {cf} c) WHERE rk = 1)""")
    return ctes


def _ivf_oracle_sql(dim: int = 64, n_centroids: int = 16, iters: int = 5,
                    n_probe: int = 4, k: int = 5, q_max: int = 10) -> str:
    """llm_ann_ivf_topk oracle: the shared assignment chain plus query
    n_probe expansion, candidate generation, and exact re-rank."""
    from ..operators.similarity import IVF_ROUND_SIM

    ctes = _ivf_assign_ctes(dim, n_centroids, iters)
    dot_nc = ("list_sum(list_transform(list_zip(n.v, c.v), "
              "z -> z[1]::DOUBLE * z[2]::DOUBLE))")
    ctes.append(f"""aq AS MATERIALIZED (
  SELECT vec_id AS query_id, c FROM (
    SELECT n.vec_id, c.c,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY round({dot_nc}, {IVF_ROUND_SIM}) DESC, c.c) AS rk
    FROM norm n CROSS JOIN c{iters} c
    WHERE n.vec_id < {q_max}) WHERE rk <= {n_probe})""")
    ctes.append(f"""cand AS MATERIALIZED (
  SELECT DISTINCT aq.query_id, ac.neighbor_id
  FROM aq JOIN ac USING (c) WHERE aq.query_id != ac.neighbor_id)""")
    ctes.append(f"""scored AS MATERIALIZED (
  SELECT cd.query_id, cd.neighbor_id,
         {_cos_sql('ea.embedding', 'eb.embedding')} AS cosine
  FROM cand cd
  JOIN embeddings ea ON ea.vec_id = cd.query_id
  JOIN embeddings eb ON eb.vec_id = cd.neighbor_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, cosine, CAST(rk AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) WHERE rk <= {k}""")


@register(
    "llm_ann_ivf_topk",
    _ivf_oracle_sql(),
    doc="IVF ANN (Faiss-shaped scale path): deterministic k-means "
        "centroids, BLAS batch assignment, probe-4 inverted-list search "
        "+ exact re-rank. ORACLED since r8: the index is fully "
        "deterministic (hash-order-statistic train sample = the whole "
        "corpus at driver SFs, fixed-iteration Lloyd's with quantized "
        "sims/centroids — similarity.IVF_ROUND_*), so the oracle "
        "unrolls the identical 5 k-means iterations as chained SQL "
        "CTEs and mirrors assign + n_probe rerank exactly, the same "
        "conversion the sign-LSH oracles got in r7",
    tags=("llm", "similarity", "ann", "ivf"),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), dim=64, k=5
    )


def _ann_recall_oracle_sql(dim: int = 64, n_centroids: int = 16,
                           iters: int = 5, n_probe: int = 4, k: int = 5,
                           q_max: int = 10) -> str:
    """llm_ann_recall_eval oracle: the shared IVF assignment chain →
    IVF top-k, an exact brute-force top-k over the same queries, and
    the per-query intersection count — recall@k as exact integral
    ppm."""
    from ..operators.similarity import IVF_ROUND_SIM

    ctes = _ivf_assign_ctes(dim, n_centroids, iters)
    dot_nc = ("list_sum(list_transform(list_zip(n.v, c.v), "
              "z -> z[1]::DOUBLE * z[2]::DOUBLE))")
    ctes.append(f"""aq AS MATERIALIZED (
  SELECT vec_id AS query_id, c FROM (
    SELECT n.vec_id, c.c,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY round({dot_nc}, {IVF_ROUND_SIM}) DESC, c.c) AS rk
    FROM norm n CROSS JOIN c{iters} c
    WHERE n.vec_id < {q_max}) WHERE rk <= {n_probe})""")
    ctes.append(f"""cand AS MATERIALIZED (
  SELECT DISTINCT aq.query_id, ac.neighbor_id
  FROM aq JOIN ac USING (c) WHERE aq.query_id != ac.neighbor_id)""")
    ctes.append(f"""iscored AS MATERIALIZED (
  SELECT cd.query_id, cd.neighbor_id,
         {_cos_sql('ea.embedding', 'eb.embedding')} AS cosine
  FROM cand cd
  JOIN embeddings ea ON ea.vec_id = cd.query_id
  JOIN embeddings eb ON eb.vec_id = cd.neighbor_id)""")
    ctes.append(f"""itop AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM iscored) WHERE rk <= {k})""")
    ctes.append(f"""escored AS MATERIALIZED (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_cos_sql('q.embedding', 'c.embedding')} AS cosine
  FROM embeddings q CROSS JOIN embeddings c
  WHERE q.vec_id < {q_max} AND q.vec_id != c.vec_id)""")
    ctes.append(f"""etop AS MATERIALIZED (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, neighbor_id) AS rk
    FROM escored) WHERE rk <= {k})""")
    return ("WITH " + ",\n".join(ctes) + """
SELECT b.query_id, b.n_exact, COALESCE(h.n_hit, 0) AS n_hit,
       CAST((COALESCE(h.n_hit, 0) * 1000000) // b.n_exact AS BIGINT)
         AS recall_ppm
FROM (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM etop GROUP BY query_id) b
LEFT JOIN (SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
           FROM etop e JOIN itop i
             ON e.query_id = i.query_id
            AND e.neighbor_id = i.neighbor_id
           GROUP BY e.query_id) h
  ON b.query_id = h.query_id""")


@register(
    "llm_ann_recall_eval",
    _ann_recall_oracle_sql(),
    doc="recall@5 evaluation of the IVF ANN index against the exact "
        "brute-force top-5, per query — the EVAL LOOP on the ANN "
        "family (what ref_var_backtest is to the VaR fits): an index "
        "is only as good as its measured recall, and this runs the "
        "measurement as a first-class relational op instead of a "
        "pytest assertion. Per query: |IVF top-5 ∩ exact top-5| via "
        "one equi-join on (query, neighbor) — both top-5 sets are "
        "already deterministic cross-engine constants (their own "
        "oracles) — and recall as exact integral ppm. Scale: the "
        "exact side is the bounded-broadcast baseline (enforced "
        "MAX_BROADCAST_ROWS); production evals sample queries exactly "
        "like this q<10 slice, so the plan shape IS the 100 TB shape",
    tags=("llm", "similarity", "ann", "eval"),
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = similarity.brute_force_topk(corpus=emb, queries=q, k=5).select(
        "query_id", "neighbor_id"
    )
    ivf = similarity.ivf_topk(corpus=emb, queries=q, dim=64, k=5).select(
        "query_id", "neighbor_id"
    )
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    hits = (
        exact.join(ivf, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.expr(
                "(coalesce(n_hit, 0) * 1000000) div n_exact"
            ).alias("recall_ppm"),
        )
    )


@register(
    "llm_lsh_recall_eval",
    f"""
WITH {_BANDED_CTE.strip()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sh AS (SELECT DISTINCT doc_id, s
       FROM (SELECT doc_id, unnest(hs) AS s FROM hsh)),
sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
          FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2),
truth AS (
  SELECT id_a, id_b,
         LEAST((n_shared * 10) // (sa.n + sb.n - n_shared),
               CAST(9 AS BIGINT)) AS jaccard_bin
  FROM shared
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE n_shared * 5 >= sa.n + sb.n - n_shared)
SELECT t.jaccard_bin,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(c.id_a) AS BIGINT) AS n_hit,
       CAST((COUNT(c.id_a) * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm
FROM truth t
LEFT JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b
GROUP BY t.jaccard_bin
""",
    doc="measured recall of the MinHash-LSH candidate generator vs "
        "exact n-gram Jaccard ≥ 0.2 truth, per similarity decile "
        "(operators/dedup.lsh_recall_eval) — the EVAL LOOP on the "
        "dedup family, completing the pattern llm_ann_recall_eval set "
        "for ANN: llm_minhash_calibration predicts P[collision | sim] "
        "from banding theory, this MEASURES recall against ground "
        "truth on the actual corpus (including the bucket-size skew "
        "cap's recall loss — that loss is part of what the eval "
        "exists to see). Fully integer: truth thresholded as "
        "5·n_shared ≥ union and binned as (10·n_shared) div union "
        "capped at 9 — no float compares, bit-exact cross-engine; "
        "hits via one left-semi equi-join on the pair key; recall as "
        "integral ppm. Scale: the truth leg is the exact shared-"
        "shingle join (ground truth is the expensive side by "
        "construction); production evals run it on a sampled slice "
        "exactly like the ANN eval's q<10 query slice — the plan "
        "shape IS the 100 TB shape",
    tags=("llm", "dedup", "minhash", "lsh", "eval"),
)
def q_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.lsh_recall_eval(
        load_table(spark, sf_dir, "documents"),
        num_perms=_NUM_PERMS,
        bands=_BANDS,
    )


@register(
    "llm_embedding_recall_eval",
    f"""
WITH {_LSH_BUCKETS_CTES.strip()},
sized AS (
  SELECT tbl, bucket, COUNT(*) AS sz FROM buckets GROUP BY tbl, bucket),
lsh AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM buckets a
  JOIN sized s ON s.tbl = a.tbl AND s.bucket = a.bucket
              AND s.sz <= {dedup.DEFAULT_MAX_BUCKET_SIZE}
  JOIN buckets b ON a.tbl = b.tbl AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id),
truth AS (
  SELECT id_a, id_b,
         LEAST(CAST(FLOOR(cosine * 20) AS BIGINT),
               CAST(19 AS BIGINT)) AS cos_bin
  FROM (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_cos_sql('a.embedding', 'b.embedding')} AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
  WHERE cosine >= 0.4)
SELECT t.cos_bin,
       CAST(COUNT(*) AS BIGINT) AS n_truth,
       CAST(COUNT(l.id_a) AS BIGINT) AS n_hit,
       CAST((COUNT(l.id_a) * 1000000) // COUNT(*) AS BIGINT) AS recall_ppm
FROM truth t
LEFT JOIN lsh l ON l.id_a = t.id_a AND l.id_b = t.id_b
GROUP BY t.cos_bin
""",
    doc="measured recall of the banded sign-LSH near-dup candidate "
        "generator vs exact cosine ≥ 0.4 truth, per 0.05 cosine band "
        "(operators/dedup.embedding_recall_eval) — the THIRD eval "
        "loop, completing the pattern for the embedding dedup path: "
        "llm_ann_recall_eval evaluates the ANN index, "
        "llm_lsh_recall_eval the MinHash-LSH dedup, this the sign-LSH "
        "embedding dedup. Truth = the llm_embedding_near_dup relation "
        "(cosine ROUND(...,6) in BOTH engines, so the 0.05-band float "
        "floor is cross-engine deterministic); candidates = the "
        "llm_embedding_near_dup_lsh relation at PINNED "
        "planes_per_table=4 (auto-tuning would change the curve being "
        "measured); hits via one left-semi equi-join on the pair key; "
        "recall as integral ppm — the bucket-size skew cap's recall "
        "loss deliberately included. Scale: ground truth is the "
        "expensive exact leg by construction (capped, raises past "
        "driver-safe corpora); production evals run a sampled slice, "
        "candidates stay the banded equi-join — never all-pairs",
    tags=("llm", "dedup", "similarity", "lsh", "eval"),
)
def q_embedding_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.embedding_recall_eval(
        load_table(spark, sf_dir, "embeddings"),
        dim=64,
        threshold=0.4,
        planes_per_table=4,
    )


def _random_projection_oracle_sql(dim_out: int = 16) -> str:
    """llm_random_projection oracle: identical literal ±1 JL matrix,
    integer micro-unit quantization, exact int64 folds."""
    r = similarity.jl_sign_matrix(dim_out, 64)
    r_sql = "[" + ", ".join(
        "[" + ", ".join(str(v) for v in row) + "]" for row in r
    ) + "]"
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
           AS qx
  FROM embeddings),
y AS (
  SELECT vec_id, qx,
         list_transform({r_sql},
           row -> CAST(list_sum(list_transform(list_zip(row, qx),
                                               z -> z[1] * z[2]))
                       AS BIGINT)) AS y
  FROM q),
r AS (
  SELECT vec_id, y,
         CASE WHEN list_sum(list_transform(qx, v -> v * v)) = 0 THEN 0.0
              ELSE round(
                sqrt(CAST(list_sum(list_transform(y, v -> v * v))
                          AS DOUBLE) / {dim_out}) /
                sqrt(CAST(list_sum(list_transform(qx, v -> v * v))
                          AS DOUBLE)), 6)
         END AS norm_ratio
  FROM y)
SELECT vec_id, CAST(u.o - 1 AS INT) AS proj_dim, y[u.o] AS y_q, norm_ratio
FROM r, UNNEST(generate_series(1, {dim_out})) u(o)
"""


@register(
    "llm_random_projection",
    _random_projection_oracle_sql(),
    doc="Johnson-Lindenstrauss random projection 64->16 "
        "(similarity.random_projection, Achlioptas ±1 variant): the "
        "dimensionality-reduction step that lets ANN candidate "
        "generation / clustering / banding ride 16 numbers instead of "
        "64, with the per-vector norm-preservation ratio (JL's "
        "guarantee) in the output. Matrix entries are md5-parity "
        "signs — no RNG, identical on every engine; coordinates are "
        "exact int64 folds over micro-unit-quantized components, so "
        "no float reduction order exists to drift. Zero-shuffle "
        "codegen map + one generator",
    tags=("llm", "similarity", "projection", "scale"),
)
def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.random_projection(emb, dim_in=64, dim_out=16)


def _kmeans_profile_oracle_sql(n_centroids: int = 16, iters: int = 5) -> str:
    """llm_embedding_kmeans oracle: the shared IVF assignment chain,
    then per-assigned-pair quantized cosine and a per-cluster rollup."""
    from ..operators.similarity import IVF_ROUND_SIM

    ctes = _ivf_assign_ctes(n_centroids=n_centroids, iters=iters)
    dot_nc = ("list_sum(list_transform(list_zip(n.v, c.v), "
              "z -> z[1]::DOUBLE * z[2]::DOUBLE))")
    ctes.append(f"""memb AS MATERIALIZED (
  SELECT n.vec_id, a.c,
         CAST(round(round({dot_nc}, {IVF_ROUND_SIM}) * 1000000)
              AS BIGINT) AS sim_q6
  FROM ac a
  JOIN norm n ON n.vec_id = a.neighbor_id
  JOIN c{iters} c ON c.c = a.c)""")
    return ("WITH " + ",\n".join(ctes) + """
SELECT CAST(c AS INT) AS centroid,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(vec_id) AS min_member,
       round(CAST(SUM(sim_q6) AS DOUBLE) / 1000000 / COUNT(*), 6)
         AS mean_sim
FROM memb GROUP BY c""")


@register(
    "llm_embedding_kmeans",
    _kmeans_profile_oracle_sql(),
    doc="standalone k-means cluster PROFILE over the embedding corpus "
        "(size, min member id, mean member->centroid cosine) — the "
        "clustering summary every embedding-side curation decision "
        "reads first (cluster-balanced sampling, pruning over/under-"
        "dense regions). Reuses the deterministic shared k-means "
        "(similarity.train_centroids: hash-order-statistic sample, "
        "fixed-iteration quantized Lloyd's) + one Arrow BLAS "
        "assignment pass; the mean rides an exact BIGINT sum of "
        "6dp-quantized sims, so no float reduction order can move it. "
        "Oracle = the unrolled k-means CTE chain llm_ann_ivf_topk "
        "proved out, plus a per-cluster rollup",
    tags=("llm", "similarity", "kmeans", "curation"),
)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb, n_centroids=16)
    asg = similarity.assign_centroids(emb, cent, sim_col="sim")
    return (
        asg.select(
            "vec_id",
            "centroid",
            F.round(F.col("sim") * 1_000_000).cast("long").alias("sim_q6"),
        )
        .groupBy("centroid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("vec_id").alias("min_member"),
            F.round(
                F.sum("sim_q6").cast("double") / 1_000_000
                / F.count(F.lit(1)),
                6,
            ).alias("mean_sim"),
        )
    )


def _ivfpq_oracle_sql(dim: int = 64, n_centroids: int = 16, iters: int = 5,
                      n_probe: int = 4, k: int = 5, q_max: int = 10) -> str:
    """llm_ann_ivfpq_topk oracle: the shared IVF chain, then the full
    product-quantization replay — per-subspace residuals, unrolled
    Euclidean k-means (PQ_ITERS rounds, distances/means rounded to
    IVF_ROUND_SIM, argmin ties to the lowest code), final encode, and
    asymmetric-distance scoring against reconstructions. Same
    exactness contract as the IVF oracle: every compared value is
    quantized, so the unrolled SQL computes the identical index."""
    from ..operators.similarity import (
        IVF_ROUND_SIM, IVF_ROUND_VEC, PQ_CODES, PQ_ITERS, PQ_M,
    )

    m, n_codes, pq_iters = PQ_M, PQ_CODES, PQ_ITERS
    sub = dim // m
    ctes = _ivf_assign_ctes(dim, n_centroids, iters)
    ctes.append(f"""res AS MATERIALIZED (
  SELECT a.neighbor_id AS vec_id, a.c,
         list_transform(generate_series(1, {dim}),
                        j -> n.v[j] - cv.v[j]) AS r
  FROM ac a JOIN norm n ON n.vec_id = a.neighbor_id
  JOIN c{iters} cv ON cv.c = a.c)""")
    dist = ("list_sum(list_transform(list_zip(x.rs, cb.v), "
            "z -> (z[1] - z[2]) * (z[1] - z[2])))")
    for s in range(m):
        ctes.append(f"""r{s} AS MATERIALIZED (
  SELECT vec_id, list_transform(generate_series(1, {sub}),
                                j -> r[{s * sub} + j]) AS rs
  FROM res)""")
        ctes.append(f"""cb{s}_0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS k, rs AS v
  FROM r{s} ORDER BY vec_id LIMIT {n_codes})""")
        for t in range(pq_iters):
            ctes.append(f"""pa{s}_{t} AS MATERIALIZED (
  SELECT vec_id, rs, k FROM (
    SELECT x.vec_id, x.rs, cb.k,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY round({dist}, {IVF_ROUND_SIM}) ASC, cb.k) AS rk
    FROM r{s} x CROSS JOIN cb{s}_{t} cb) WHERE rk = 1)""")
            # exact micro-unit integer sums — see _ivf_assign_ctes
            ctes.append(f"""ps{s}_{t} AS MATERIALIZED (
  SELECT k, i,
         SUM(CAST(round(rs[i] * {10 ** IVF_ROUND_VEC}) AS BIGINT)) AS sm,
         COUNT(*) AS n
  FROM pa{s}_{t} CROSS JOIN range(1, {sub + 1}) rr(i) GROUP BY k, i)""")
            ctes.append(f"""pu{s}_{t} AS MATERIALIZED (
  SELECT k, list(round(CAST(sm AS DOUBLE)
                       / (n * {10 ** IVF_ROUND_VEC}.0), {IVF_ROUND_SIM})
                 ORDER BY i) AS v
  FROM ps{s}_{t} GROUP BY k)""")
            ctes.append(f"""cb{s}_{t + 1} AS MATERIALIZED (
  SELECT co.k, COALESCE(u.v, co.v) AS v
  FROM cb{s}_{t} co LEFT JOIN pu{s}_{t} u USING (k))""")
        ctes.append(f"""code{s} AS MATERIALIZED (
  SELECT vec_id, k FROM (
    SELECT x.vec_id, cb.k,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
             ORDER BY round({dist}, {IVF_ROUND_SIM}) ASC, cb.k) AS rk
    FROM r{s} x CROSS JOIN cb{s}_{pq_iters} cb) WHERE rk = 1)""")
    dot_nc = ("list_sum(list_transform(list_zip(n.v, c.v), "
              "z -> z[1]::DOUBLE * z[2]::DOUBLE))")
    ctes.append(f"""aq AS MATERIALIZED (
  SELECT vec_id AS query_id, c FROM (
    SELECT n.vec_id, c.c,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY round({dot_nc}, {IVF_ROUND_SIM}) DESC, c.c) AS rk
    FROM norm n CROSS JOIN c{iters} c
    WHERE n.vec_id < {q_max}) WHERE rk <= {n_probe})""")
    adc_terms = [
        "list_sum(list_transform(list_zip(qn.v, cv.v), z -> z[1] * z[2]))"
    ] + [
        f"list_sum(list_transform(generate_series(1, {sub}), "
        f"j -> qn.v[{s * sub} + j] * f{s}.v[j]))"
        for s in range(m)
    ]
    code_joins = "\n  ".join(
        f"JOIN code{s} j{s} ON j{s}.vec_id = ac.neighbor_id "
        f"JOIN cb{s}_{pq_iters} f{s} ON f{s}.k = j{s}.k"
        for s in range(m)
    )
    ctes.append(f"""scored AS MATERIALIZED (
  SELECT aq.query_id, ac.neighbor_id,
         round({' + '.join(adc_terms)}, {IVF_ROUND_SIM}) AS approx_cosine
  FROM aq
  JOIN ac ON ac.c = aq.c
  JOIN norm qn ON qn.vec_id = aq.query_id
  JOIN c{iters} cv ON cv.c = ac.c
  {code_joins}
  WHERE aq.query_id != ac.neighbor_id)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT query_id, neighbor_id, approx_cosine, CAST(rk AS INT) AS rank FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY approx_cosine DESC, neighbor_id) AS rk
  FROM scored) WHERE rk <= {k}""")


@register(
    "llm_ann_ivfpq_topk",
    _ivfpq_oracle_sql(),
    doc="IVF-PQ ANN (Jegou '11 / Faiss IVFPQ — the 100 TB memory "
        "path): corpus vectors live in the index only as (centroid, 8 "
        "codes) — 32x smaller than the float payload — and queries "
        "score candidates by asymmetric distance against centroid + "
        "codeword reconstructions, never touching original vectors. "
        "Deterministic throughout (shared IVF k-means + per-subspace "
        "Euclidean k-means on residuals, everything quantized), so the "
        "oracle unrolls the ENTIRE index build — 8 sub-codebooks x 3 "
        "Lloyd's rounds as chained CTEs — and the top-k is an exact "
        "cross-engine identity; recall vs the exact baseline is the "
        "approximate part, pytest-gated",
    tags=("llm", "similarity", "ann", "ivf", "pq"),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        corpus=emb, queries=emb.filter(F.col("vec_id") < 10), dim=64, k=5
    )


def _semantic_dedup_oracle_sql(dim: int = 64, n_centroids: int = 16,
                               iters: int = 5, threshold: float = 0.4,
                               max_cluster_size: int = 4096) -> str:
    """llm_semantic_dedup oracle: the shared k-means assignment chain,
    then the greedy-by-id drop rule — x drops iff SOME lower-id member
    of its cluster has cosine >= threshold (clusters over the skew cap
    skip pairing, mirroring the operator's guard)."""
    ctes = _ivf_assign_ctes(dim, n_centroids, iters)
    ctes.append(f"""sizes AS MATERIALIZED (
  SELECT c FROM (SELECT c, COUNT(*) AS sz FROM ac GROUP BY c)
  WHERE sz <= {max_cluster_size})""")
    ctes.append(f"""drp AS MATERIALIZED (
  SELECT DISTINCT a.neighbor_id AS vec_id
  FROM ac a
  JOIN sizes s ON s.c = a.c
  JOIN ac b ON b.c = a.c AND b.neighbor_id < a.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
  WHERE {_cos_sql('ea.embedding', 'eb.embedding')} >= {threshold})""")
    return ("WITH " + ",\n".join(ctes) + """
SELECT ac.neighbor_id AS vec_id, CAST(ac.c AS INT) AS centroid,
       (drp.vec_id IS NULL) AS is_kept
FROM ac LEFT JOIN drp ON drp.vec_id = ac.neighbor_id""")


@register(
    "llm_semantic_dedup",
    _semantic_dedup_oracle_sql(),
    doc="SemDeDup-style semantic deduplication (Abbas et al. '23, "
        "arXiv:2303.09540 — operators/similarity.semantic_dedup): "
        "deterministic k-means clusters the embedding space, then each "
        "cluster greedily drops members with cosine >= 0.4 to a "
        "lower-id member — pairwise cost falls O(n²) -> Σ|cluster|², "
        "the web-scale curation trick. Output is the full audit form "
        "(id, centroid, is_kept). Narrow (id, centroid) rows ride the "
        "pair shuffle, vectors join back only for scoring; cluster-"
        "size skew cap mirrored in the oracle; oracle shares the "
        "k-means CTE chain with llm_ann_ivf_topk",
    tags=("llm", "dedup", "similarity", "semantic"),
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(
        load_table(spark, sf_dir, "embeddings"), dim=64, threshold=0.4
    )


def _semantic_clusters_oracle_sql(threshold: float = 0.4,
                                  max_cluster_size: int = 4096) -> str:
    """llm_semantic_clusters oracle: the shared k-means chain, the
    in-cluster pair SQL, then transitive closure as a recursive CTE
    (the same reach-CTE shape as llm_dup_clusters' oracle)."""
    ctes = _ivf_assign_ctes()
    ctes.append(f"""sizes AS MATERIALIZED (
  SELECT c FROM (SELECT c, COUNT(*) AS sz FROM ac GROUP BY c)
  WHERE sz <= {max_cluster_size})""")
    ctes.append(f"""prs AS MATERIALIZED (
  SELECT a.neighbor_id AS id_a, b.neighbor_id AS id_b
  FROM ac a
  JOIN sizes s ON s.c = a.c
  JOIN ac b ON b.c = a.c AND a.neighbor_id < b.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
  WHERE {_cos_sql('ea.embedding', 'eb.embedding')} >= {threshold})""")
    ctes.append("""edges AS (SELECT id_a AS src, id_b AS dst FROM prs
           UNION ALL SELECT id_b, id_a FROM prs)""")
    ctes.append("""reach(id, label) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)""")
    return ("WITH RECURSIVE " + ",\n".join(ctes) + """
SELECT id AS vec_id, MIN(label) AS cluster_id FROM reach GROUP BY id""")


@register(
    "llm_semantic_clusters",
    _semantic_clusters_oracle_sql(),
    doc="transitive semantic duplicate clusters: in-cluster cosine "
        "pairs (similarity.semantic_near_dup_pairs — same k-means "
        "chain as llm_semantic_dedup) fed to the iterative "
        "connected-components operator (dedup.duplicate_clusters, "
        "adaptive pointer jumping) — the ε-ball-CHAINING variant the "
        "greedy rule deliberately avoids: near-dup chains a~b~c "
        "collapse to one cluster even when cos(a,c) < τ. cluster_id = "
        "min reachable vec_id; singletons keep themselves. Oracle = "
        "k-means CTE chain + recursive reach CTE",
    tags=("llm", "dedup", "similarity", "semantic", "graph"),
)
def q_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.semantic_near_dup_pairs(emb, dim=64, threshold=0.4)
    return dedup.duplicate_clusters(
        pairs.select("id_a", "id_b"), emb.select("vec_id"), id_col="vec_id"
    )


@register(
    "llm_dsir_weights",
    """
WITH tb AS MATERIALIZED (
  SELECT doc_id, source,
         ('0x' || substr(md5(t.term), 1, 15))::BIGINT % 64 AS b
  FROM documents, unnest(string_split(text, ' ')) AS t(term)
  WHERE t.term != ''),
dist AS MATERIALIZED (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_all,
         CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_tgt
  FROM tb GROUP BY b),
tot AS (SELECT CAST(SUM(c_all) AS BIGINT) AS t_all,
               CAST(SUM(c_tgt) AS BIGINT) AS t_tgt FROM dist),
lr AS (SELECT b,
              CAST(floor((ln((c_tgt + 1.0) / (t_tgt + 64.0))
                          - ln((c_all + 1.0) / (t_all + 64.0)))
                         * 1e6 + 0.5) AS BIGINT) AS lr_micro
       FROM dist CROSS JOIN tot),
doc AS (SELECT doc_id, b, COUNT(*) AS n FROM tb GROUP BY doc_id, b)
SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(n * lr_micro) AS BIGINT) AS DOUBLE) / 1e6
         AS log_weight
FROM doc JOIN lr USING (b) GROUP BY doc_id
""",
    doc="DSIR-style importance weights (Xie et al. '23, "
        "arXiv:2302.03169 — operators/text.dsir_weights): per-doc "
        "log p_target/p_corpus ratio over md5-hashed token buckets "
        "(add-1 smoothing, target = source 'src0') — the data-"
        "selection score that upsamples target-domain-like documents. "
        "One explode -> pruned (id, bucket) rows; BOTH distributions "
        "from one 64-row aggregation broadcast back; totals ride a "
        "broadcast 1-row cross join. Per-bucket log-ratios quantize "
        "ONCE to int64 micro-units and the per-doc reduction is an "
        "exact integer sum (the parallel double SUM it replaces was "
        "aggregation-order-nondeterministic — the ccnet flake class); "
        "CAST(SUM ...) guards DuckDB's HUGEINT->DOUBLE ulp drift",
    tags=("llm", "text", "selection", "dsir"),
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.dsir_weights(
        load_table(spark, sf_dir, "documents"), target_source="src0"
    )


def _curation_embedding_oracle_sql() -> str:
    """Embedding-side curation composition: the semantic-dedup chain
    (shared k-means CTEs + greedy drop) ∧ the DSIR chain, joined back
    to documents — survivors are semantic-dedup keepers with >= 30
    tokens scoring at or above the corpus MEDIAN importance weight
    (median-relative, so the gate stays meaningful at every SF; the
    median interpolates identically on both engines over the rounded
    weights)."""
    ctes = _ivf_assign_ctes()
    ctes.append("""sizes AS MATERIALIZED (
  SELECT c FROM (SELECT c, COUNT(*) AS sz FROM ac GROUP BY c)
  WHERE sz <= 4096)""")
    ctes.append(f"""drp AS MATERIALIZED (
  SELECT DISTINCT a.neighbor_id AS vec_id
  FROM ac a
  JOIN sizes s ON s.c = a.c
  JOIN ac b ON b.c = a.c AND b.neighbor_id < a.neighbor_id
  JOIN embeddings ea ON ea.vec_id = a.neighbor_id
  JOIN embeddings eb ON eb.vec_id = b.neighbor_id
  WHERE {_cos_sql('ea.embedding', 'eb.embedding')} >= 0.4)""")
    ctes.append("""tb2 AS MATERIALIZED (
  SELECT doc_id, source,
         ('0x' || substr(md5(t.term), 1, 15))::BIGINT % 64 AS b
  FROM documents, unnest(string_split(text, ' ')) AS t(term)
  WHERE t.term != '')""")
    ctes.append("""dist2 AS MATERIALIZED (
  SELECT b, CAST(COUNT(*) AS BIGINT) AS c_all,
         CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
              AS BIGINT) AS c_tgt
  FROM tb2 GROUP BY b)""")
    ctes.append("""tot2 AS (SELECT CAST(SUM(c_all) AS BIGINT) AS t_all,
               CAST(SUM(c_tgt) AS BIGINT) AS t_tgt FROM dist2)""")
    ctes.append("""lr2 AS (SELECT b,
              CAST(floor((ln((c_tgt + 1.0) / (t_tgt + 64.0))
                          - ln((c_all + 1.0) / (t_all + 64.0)))
                         * 1e6 + 0.5) AS BIGINT) AS lr_micro
       FROM dist2 CROSS JOIN tot2)""")
    ctes.append("""wts AS MATERIALIZED (
  SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(CAST(SUM(n * lr_micro) AS BIGINT) AS DOUBLE) / 1e6
           AS log_weight
  FROM (SELECT doc_id, b, COUNT(*) AS n FROM tb2 GROUP BY doc_id, b)
  JOIN lr2 USING (b) GROUP BY doc_id)""")
    ctes.append("""med AS (SELECT quantile_cont(log_weight, 0.5) AS m
                           FROM wts)""")
    return ("WITH " + ",\n".join(ctes) + """
SELECT d.doc_id, d.source, d.lang,
       CAST(ac.c AS INT) AS centroid, w.log_weight
FROM documents d
JOIN ac ON ac.neighbor_id = d.doc_id
JOIN wts w ON w.doc_id = d.doc_id
LEFT JOIN drp ON drp.vec_id = d.doc_id
CROSS JOIN med
WHERE drp.vec_id IS NULL AND w.n_tokens >= 30 AND w.log_weight >= med.m""")


@register(
    "llm_curation_embedding",
    _curation_embedding_oracle_sql(),
    doc="embedding-side curation composition, one DAG: SemDeDup "
        "semantic-dedup survivors (k-means clusters + greedy in-"
        "cluster drop) ∧ DSIR importance gate at the corpus MEDIAN "
        "weight ∧ >= 30 tokens — the 'dedup then select toward the "
        "target domain' pass a pre-training corpus runs after the "
        "text-side gates (llm_curation_pipeline). The median rides a "
        "broadcast 1-row cross join; the doc<->embedding link is a "
        "same-id equi-join; oracle composes the shared k-means chain "
        "with the DSIR chain verbatim",
    tags=("llm", "curation", "dedup", "selection", "semantic"),
)
def q_curation_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    sem = similarity.semantic_dedup(emb, dim=64, threshold=0.4)
    wts = text.dsir_weights(docs, target_source="src0")
    med = wts.agg(F.expr("percentile(log_weight, 0.5)").alias("m"))
    return (
        docs.select("doc_id", "source", "lang")
        .join(sem.withColumnRenamed("vec_id", "doc_id"), "doc_id")
        .join(wts, "doc_id")
        .crossJoin(F.broadcast(med))
        .filter(
            F.col("is_kept")
            & (F.col("n_tokens") >= 30)
            & (F.col("log_weight") >= F.col("m"))
        )
        .select("doc_id", "source", "lang", "centroid", "log_weight")
    )


# --- multimodal -------------------------------------------------------------

@register(
    "llm_multimodal_features",
    """
SELECT doc_id AS asset_id,
       CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
            WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       substr(sha256(text), 1, 12) AS sha_prefix,
       """ + ",\n       ".join(
        f"CAST(('0x' || substr(md5(text), {8 * i + 1}, 8))::BIGINT AS DOUBLE)"
        f" / 4294967296.0 AS feat_{i}"
        for i in range(4)
    ) + """
FROM documents
""",
    doc="multimodal plumbing: binary payload column → Arrow-batched "
        "feature extraction (decode step stubbed as deterministic "
        "MD5-derived features; schema/batching real). Oracle replays "
        "the whole Python path in SQL — the payload IS the UTF-8 text "
        "bytes, so md5/sha256 over the VARCHAR hash identical bytes, "
        "and the feature ints divide by 2^32 exactly in double",
    tags=("llm", "multimodal"),
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_assets(docs)
    return multimodal.extract_features(assets)


def _phash_chain_ctes() -> str:
    """WHT-pHash chain CTEs in DuckDB, ending at ``h(asset_id, ph)`` —
    integer-exact mirror of multimodal.image_phash over the image third
    of synthetic_assets (payload = UTF-8 text bytes, modality = image
    <=> doc_id % 3 = 0). Shared by llm_image_phash_pairs and
    llm_phash_clusters."""
    from ..operators.multimodal import PHASH_BITS, PHASH_PIXELS

    n, bits = PHASH_PIXELS, PHASH_BITS
    px_cols = ",\n       ".join(
        f"COALESCE(SUM(CASE WHEN b = {i} THEN code END), 0) AS p{i}"
        for i in range(n)
    )

    def coef(k: int) -> str:
        terms = [
            ("- " if bin(i & k).count("1") % 2 else "+ ") + f"p{i}"
            for i in range(n)
        ]
        return " ".join(terms).lstrip("+ ")

    coefs = ",\n       ".join(
        f"({coef(k)}) AS c{k}" for k in range(1, bits + 1)
    )
    total = " + ".join(f"c{k}" for k in range(1, bits + 1))
    packed = " + ".join(
        f"(CASE WHEN {bits} * c{k} > ({total}) THEN {1 << (k - 1)} "
        f"ELSE 0 END)"
        for k in range(1, bits + 1)
    )
    return f"""ch AS (
  SELECT doc_id AS asset_id, length(text) AS L, i,
         ascii(substr(text, CAST(i AS INT), 1)) AS code
  FROM documents, UNNEST(generate_series(1, length(text))) u(i)
  WHERE doc_id % 3 = 0),
px0 AS (SELECT asset_id, ((i - 1) * {n}) // L AS b, SUM(code) AS code
        FROM ch GROUP BY asset_id, ((i - 1) * {n}) // L),
pxw AS (SELECT asset_id, {px_cols} FROM px0 GROUP BY asset_id),
coef AS (SELECT asset_id, {coefs} FROM pxw),
h AS (SELECT asset_id, CAST({packed} AS BIGINT) AS ph FROM coef)"""


def _phash_oracle_sql() -> str:
    """llm_image_phash_pairs oracle: the pHash chain + a brute hamming
    join (proving the Spark side's pigeonhole banding loses nothing)."""
    return f"""
WITH {_phash_chain_ctes()}
SELECT a.asset_id AS id_a, b.asset_id AS id_b,
       CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
FROM h a JOIN h b
  ON a.asset_id < b.asset_id AND bit_count(xor(a.ph, b.ph)) <= 2
"""


@register(
    "llm_image_phash_pairs",
    _phash_oracle_sql(),
    doc="perceptual-hash image near-dup pairs: payload bytes pool to "
        "64 length-normalized integer pixels, WALSH-HADAMARD transform "
        "(classic pHash with the float DCT swapped for ±1 integer "
        "sums — the oracle identity holds by construction, no cos() "
        "ulp risk), mean-threshold sign bits pack a 32-bit hash "
        "(16 bits saturates with birthday pairs at corpus scale), "
        "pigeonhole (radius+1)-band equi-joins pair at hamming <= 2 "
        "(exact at ANY radius by pigeonhole). Oracle = the same "
        "integer chain + a brute hamming join, proving the banding "
        "loses nothing",
    tags=("llm", "multimodal", "dedup", "phash"),
)
def q_image_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_assets(docs).filter(
        F.col("modality") == "image"
    )
    return multimodal.phash_near_pairs(assets)


def _phash_clusters_oracle_sql() -> str:
    """llm_phash_clusters oracle: pHash chain + brute hamming pairs +
    recursive transitive closure (the same CC spec llm_dup_clusters
    uses) + per-cluster member counts."""
    return f"""
WITH RECURSIVE {_phash_chain_ctes()},
pairs AS (
  SELECT a.asset_id AS id_a, b.asset_id AS id_b
  FROM h a JOIN h b
    ON a.asset_id < b.asset_id AND bit_count(xor(a.ph, b.ph)) <= 2),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT asset_id, asset_id FROM h
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
clusters AS (SELECT id AS asset_id, MIN(label) AS cluster_id
             FROM reach GROUP BY id)
SELECT c.asset_id, c.cluster_id, s.n_members
FROM clusters c
JOIN (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM clusters GROUP BY cluster_id) s USING (cluster_id)
"""


@register(
    "llm_phash_clusters",
    _phash_clusters_oracle_sql(),
    doc="image duplicate GROUPS: connected components over the "
        "pHash-banded near-pair graph (dedup.duplicate_clusters — the "
        "same scale-proofed min-label propagation the text dedup "
        "family uses) with per-cluster member counts — turns pairwise "
        "perceptual matches into the keep-one-per-group action a "
        "multimodal corpus dedup actually executes. Transitivity "
        "matters: A~B and B~C at hamming<=2 can put A,C at distance 4 "
        "in one cluster, which no pairwise radius ever emits. Oracle = "
        "the integer pHash chain + brute hamming pairs + recursive "
        "transitive closure",
    tags=("llm", "multimodal", "dedup", "phash", "graph"),
)
def q_phash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dedup as _dedup
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_assets(docs).filter(
        F.col("modality") == "image"
    )
    pairs = multimodal.phash_near_pairs(assets).select("id_a", "id_b")
    clusters = _dedup.duplicate_clusters(
        pairs, assets.select("asset_id"), id_col="asset_id"
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    return clusters.join(sizes, "cluster_id").select(
        "asset_id", "cluster_id", "n_members"
    )


@register(
    "llm_frame_sample_plan",
    """
SELECT doc_id AS asset_id,
       unnest(generate_series(0, greatest(n_chars * 10 - 1, 0), 1000))
         AS frame_ts_ms
FROM documents WHERE doc_id % 3 = 2
""",
    doc="video frame-sampling plan: metadata-only sequence+explode, no "
        "payload decode, zero shuffle — oracle replays the synthetic "
        "duration derivation (duration_ms = n_chars*10) and the "
        "inclusive frame series in SQL",
    tags=("llm", "multimodal"),
)
def q_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_assets(docs)
    return multimodal.frame_sample_plan(assets, every_ms=1000)


@register(
    "llm_repetition_ratio",
    f"""
WITH {_HS_CTES.strip()}
SELECT doc_id,
       CAST(len(hs) AS BIGINT) AS n_shingles,
       CAST(len(list_distinct(hs)) AS BIGINT) AS n_distinct,
       1 - CAST(len(list_distinct(hs)) AS DOUBLE) / len(hs) AS dup_fraction
FROM hsh
""",
    doc="Gopher-style repetition signal: fraction of duplicate 3-gram "
        "shingles per document — exact integer counts over composed "
        "shingle hashes",
    tags=("llm", "text", "quality"),
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_ratio(docs)


@register(
    "llm_doc_profile",
    """
SELECT source,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN text IS NULL OR text = '' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_empty,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       COUNT(DISTINCT doc_id) AS n_distinct_ids
FROM documents
GROUP BY source, lang
""",
    doc="corpus profiling / data-quality report per (source, lang) "
        "slice: volume, empty-text rate, size envelope, id uniqueness. "
        "One partial-aggregated shuffle; the only distinct agg is over "
        "the group's own ids. First health check before any 100 TB "
        "dedup/filter run.",
    tags=("llm", "text", "profiling"),
)
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    empty = F.when(
        F.col("text").isNull() | (F.col("text") == ""), 1
    ).otherwise(0)
    return docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(empty).alias("n_empty"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("doc_id").alias("n_distinct_ids"),
    )


@register(
    "llm_doc_chunks",
    """
WITH c AS (
  SELECT doc_id, text,
         unnest(generate_series(0, length(text) - 1, 80)) AS chunk_start
  FROM documents WHERE length(text) > 0)
SELECT doc_id,
       chunk_start // 80 AS chunk_ix,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       substring(text, CAST(chunk_start AS INT) + 1, 120) AS chunk_text
FROM c
""",
    doc="fixed-size character-window chunking with overlap "
        "(size=120, stride=80) — the retrieval/context-window prep "
        "step. Zero-shuffle sequence/explode/substring map stage "
        "fused with the scan (operators/text.py:chunk_documents); "
        "oracle is DuckDB generate_series+substring.",
    tags=("llm", "text", "chunking"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        load_table(spark, sf_dir, "documents"), size=120, stride=80
    )


@register(
    "llm_doc_chunks_udtf",
    """
WITH c AS (
  SELECT doc_id, text,
         unnest(generate_series(0, length(text) - 1, 80)) AS chunk_start
  FROM documents WHERE length(text) > 0)
SELECT doc_id,
       chunk_start // 80 AS chunk_ix,
       CAST(chunk_start AS BIGINT) AS chunk_start,
       substring(text, CAST(chunk_start AS INT) + 1, 120) AS chunk_text
FROM c
""",
    doc="Spark 4 Python UDTF chunker (operators/text.chunk_documents_"
        "udtf): LATERAL table-function expansion, one input row -> "
        "variable output rows from imperative Python — the §2.10 UDF "
        "surface's row→set shape, oracle-equal to llm_doc_chunks "
        "(same DuckDB SQL). The codegen'd explode plan remains the "
        "production path; this is the template for chunkers that NEED "
        "Python (sentence/tokenizer-aware splitting)",
    tags=("llm", "text", "chunking", "udtf"),
)
def q_doc_chunks_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents_udtf(
        load_table(spark, sf_dir, "documents"), size=120, stride=80
    )


@register(
    "llm_boilerplate_ngrams",
    """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
ng AS (SELECT doc_id,
              unnest(list_transform(
                generate_series(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS ngram
       FROM toks WHERE len(w) >= 3)
SELECT ngram, COUNT(DISTINCT doc_id) AS n_docs
FROM ng GROUP BY ngram
HAVING COUNT(DISTINCT doc_id) >= 3
""",
    doc="boilerplate word-3-gram detection: n-grams appearing in >= 3 "
        "distinct documents with their document frequency — the "
        "detection half of C4-style boilerplate removal. Zero-shuffle "
        "higher-order-function n-gram build + ONE partial-aggregated "
        "shuffle (operators/text.py:ngram_doc_frequency).",
    tags=("llm", "text", "curation"),
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.ngram_doc_frequency(
        load_table(spark, sf_dir, "documents"), n=3, min_docs=3
    )


@register(
    "llm_pii_scrub",
    """
WITH enriched AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com see https://docs.example.com/d/'
                   || CAST(doc_id AS VARCHAR) || ' now'
              ELSE text END AS text
  FROM documents),
scrub AS (
  SELECT doc_id,
         len(regexp_extract_all(text, 'https?://[^\\s]+')) AS n_urls,
         len(regexp_extract_all(
             regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
         regexp_replace(
             regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g') AS scrubbed
  FROM enriched)
SELECT doc_id, CAST(n_urls AS BIGINT) AS n_urls,
       CAST(n_emails AS BIGINT) AS n_emails,
       md5(scrubbed) AS scrub_md5,
       CAST(length(scrubbed) AS BIGINT) AS scrub_len
FROM scrub
""",
    doc="PII scrub (emails/URLs -> placeholders) over a deterministically "
        "PII-enriched documents table; patterns restricted to RE2 ∩ Java "
        "regex so both engines scrub byte-identically — verified via "
        "md5(scrubbed). Zero-shuffle codegen map stage (operators/"
        "text.pii_scrub)",
    tags=("llm", "text", "pii"),
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com see https://docs.example.com/d/"),
                F.col("doc_id").cast("string"),
                F.lit(" now"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = text.pii_scrub(enriched)
    return out.select(
        "doc_id",
        F.col("n_urls").cast("bigint").alias("n_urls"),
        F.col("n_emails").cast("bigint").alias("n_emails"),
        F.md5("scrubbed").alias("scrub_md5"),
        F.length("scrubbed").cast("bigint").alias("scrub_len"),
    )


@register(
    "llm_tfidf_top_terms",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
df AS (SELECT term, COUNT(*) AS df
       FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * ROUND(LN(CAST((SELECT COUNT(*) FROM documents) AS DOUBLE)
                          / df.df), 6) AS tfidf
  FROM tf JOIN df ON tf.term = df.term),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term) AS rnk
  FROM scored)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       tfidf, CAST(rnk AS INT) AS rnk
FROM ranked WHERE rnk <= 3
""",
    doc="per-document top-3 TF-IDF terms: explode → two count "
        "aggregations (term frequency, document frequency) → join → "
        "ranked window with a deterministic (tfidf desc, term) "
        "tiebreak. IDF is ROUNDED to 6 dp BEFORE ranking so both "
        "engines rank identical keys (ln() may differ in the last ulp "
        "cross-engine); tf and df are exact integers. The relational "
        "formulation — no UDF, no vocabulary broadcast — is the one "
        "that survives a 100 TB corpus: everything partial-aggregates",
    tags=("llm", "text", "tfidf"),
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()  # scalar; the oracle's COUNT(*) subquery
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = (
        tok.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    idf = F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6)
    scored = tf.join(df_, "term").select(
        "doc_id", "term", "tf", "df", (F.col("tf") * idf).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf", "rnk")
    )


@register(
    "llm_resize_plan",
    """
SELECT doc_id AS asset_id,
       CAST(round((n_chars % 640) * scale) AS INT) AS target_width,
       CAST(round((n_chars % 480) * scale) AS INT) AS target_height,
       scale < 1.0 AS needs_resize
FROM (
  SELECT doc_id, n_chars,
         least(224.0 / (n_chars % 640), 224.0 / (n_chars % 480), 1.0)
           AS scale
  FROM documents WHERE doc_id % 3 = 0)
""",
    doc="image resize planning: target geometry is pure JVM metadata "
        "math (aspect-preserving least-scale), only rows that actually "
        "shrink proceed to the decode stage — payload bytes never "
        "materialize for skipped rows (operators/multimodal.resize_plan). "
        "Oracle replays the synthetic-asset derivation in SQL; the "
        "degenerate zero-dimension arm is inert on both engines because "
        "least() skips its null/inf and the 1.0 cap bounds scale",
    tags=("llm", "multimodal"),
)
def q_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import multimodal

    docs = load_table(spark, sf_dir, "documents")
    assets = multimodal.synthetic_assets(docs)
    return multimodal.resize_plan(assets, max_width=224, max_height=224).select(
        "asset_id", "target_width", "target_height", "needs_resize"
    )


# --- corpus curation: contamination, mixing, reporting ----------------------

@register(
    "llm_contamination",
    f"""
WITH {_HS_CTES.strip()},
sh AS (SELECT DISTINCT doc_id, h
       FROM (SELECT doc_id, unnest(hs) AS h FROM hsh)),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
hit AS (SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.h = b.h GROUP BY c.doc_id)
SELECT h.doc_id, h.n_shared, t.n_shingles,
       ROUND(CAST(h.n_shared AS DOUBLE) / t.n_shingles, 6)
         AS contamination_ratio
FROM hit h JOIN tot t ON h.doc_id = t.doc_id
""",
    doc="benchmark contamination gate (GPT-3 appx-D-style n-gram "
        "collision): share of each corpus doc's distinct 3-shingles "
        "found anywhere in the benchmark set (here: the deterministic "
        "doc_id%97 subset standing in for a benchmark suite); benchmark "
        "hash set is broadcast, so the probe is a map-side join",
    tags=("llm", "curation", "contamination"),
)
def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return dedup.contamination(corpus, bench)


@register(
    "llm_sample_k_per_stratum",
    """
SELECT doc_id, lang, source
FROM documents
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY lang
  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 20
""",
    doc="deterministic EXACT-k (k=20) draw per language stratum — the "
        "eval-set/human-review sample where each stratum contributes a "
        "fixed count. Rank by (md5(id), id): uniform, engine-agnostic, "
        "total order ⇒ reproducible without RNG. One shuffle on the "
        "stratum (operators/text.py:sample_k_per_stratum).",
    tags=("llm", "curation", "sampling"),
)
def q_sample_k_per_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sample_k_per_stratum(
        load_table(spark, sf_dir, "documents"), k=20
    ).select("doc_id", "lang", "source")


@register(
    "llm_containment_pairs",
    f"""
WITH {_BANDED_CTE.strip()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sh AS (SELECT DISTINCT doc_id, h
       FROM (SELECT doc_id, unnest(hs) AS h FROM hsh)),
tot AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS n_shared
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b)
SELECT s.id_a, s.id_b, s.n_shared,
       ta.n AS n_a, tb.n AS n_b,
       ROUND(CAST(s.n_shared AS DOUBLE) / ta.n, 6) AS c_a_in_b,
       ROUND(CAST(s.n_shared AS DOUBLE) / tb.n, 6) AS c_b_in_a
FROM shared s
JOIN tot ta ON ta.doc_id = s.id_a
JOIN tot tb ON tb.doc_id = s.id_b
""",
    doc="directed containment scores on LSH candidate pairs: "
        "|A∩B|/|A| and |A∩B|/|B| over distinct word-3-shingle sets — "
        "the asymmetric near-dup gate (subset duplication scores ~1 "
        "here but low Jaccard). Banded-LSH candidates keep it "
        "subquadratic; exact intersection only on candidates "
        "(operators/dedup.py:containment_pairs).",
    tags=("llm", "dedup", "containment"),
)
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.containment_pairs(
        load_table(spark, sf_dir, "documents"),
        num_perms=_NUM_PERMS, bands=_BANDS,
    )


@register(
    "llm_curation_pipeline",
    f"""
WITH RECURSIVE {_BANDED_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY id),
sh AS (SELECT DISTINCT doc_id, h
       FROM (SELECT doc_id, unnest(hs) AS h FROM hsh)),
bench AS (SELECT DISTINCT h FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, h FROM sh WHERE doc_id % 97 <> 0),
tot AS (SELECT doc_id, COUNT(*) AS n_shingles FROM corpus GROUP BY doc_id),
hit AS (SELECT c.doc_id, COUNT(*) AS n_shared
        FROM corpus c JOIN bench b ON c.h = b.h GROUP BY c.doc_id),
contaminated AS (
  SELECT h.doc_id FROM hit h JOIN tot t ON h.doc_id = t.doc_id
  WHERE h.n_shared * 2 >= t.n_shingles)
SELECT d.doc_id, d.source, d.n_chars
FROM documents d
JOIN clusters c ON c.doc_id = d.doc_id AND c.cluster_id = d.doc_id
WHERE len({_TOKS}) >= 30
  AND len(list_filter({_TOKS}, t -> regexp_full_match(t, '[a-zA-Z]+'))) * 5
      >= len({_TOKS}) * 4
  AND ({_lang_id_sql()}) = 'en'
  AND d.doc_id % 97 <> 0
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""",
    doc="the END-TO-END corpus curation pass, one DAG: map-only "
        "quality gates (>= 30 tokens, >= 80 percent alpha tokens — "
        "integer-exact comparisons, no float boundaries) + lang-ID "
        "gate fused with the scan, benchmark-contamination anti-join "
        "(broadcast benchmark shingle set, docs sharing >= half their "
        "shingles with the benchmark dropped), MinHash-LSH duplicate "
        "clustering with min-id survivor selection. What a reference "
        "user runs nightly before training; every stage is the "
        "already-oracled operator, composed.",
    tags=("llm", "curation", "dedup", "pipeline"),
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("^[a-zA-Z]+$")))
    gated = docs.filter(
        (n_tokens >= 30)
        & (n_alpha * 5 >= n_tokens * 4)
        & (text.lang_id("text") == "en")
        & (F.col("doc_id") % 97 != 0)
    )

    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    contaminated = dedup.contamination(corpus, bench).filter(
        F.col("n_shared") * 2 >= F.col("n_shingles")
    )

    pairs = dedup.minhash_candidates(docs, num_perms=_NUM_PERMS, bands=_BANDS)
    clusters = dedup.duplicate_clusters(pairs, docs)
    survivors = clusters.filter(
        F.col("cluster_id") == F.col("doc_id")
    ).select("doc_id")

    return (
        gated.join(survivors, "doc_id")
        .join(
            F.broadcast(contaminated.select("doc_id")), "doc_id", "left_anti"
        )
        .select("doc_id", "source", "n_chars")
    )


@register(
    "llm_stratified_sample",
    f"""
SELECT doc_id, lang, source
FROM documents
WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT * 1000
      < CASE lang WHEN 'en' THEN 400 WHEN 'zh' THEN 800 ELSE 1000 END
        * {1 << 32}
""",
    doc="deterministic per-stratum downsampling (corpus mixing: en to "
        "400 permille, zh to 800, rest kept): keep iff the first 8 hex "
        "of md5(doc_id) — a uniform 32-bit int — falls under the "
        "stratum rate, exact integer compare; reproducible on any "
        "engine, map-only, no RNG and no partition sensitivity",
    tags=("llm", "curation", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.stratified_sample(
        docs, {"en": 400, "zh": 800}, stratum_col="lang"
    ).select("doc_id", "lang", "source")


@register(
    "llm_split_assignment",
    f"""
SELECT doc_id, lang, source,
       CASE
         WHEN u < {100 * (1 << 32)} THEN 'test'
         WHEN u < {200 * (1 << 32)} THEN 'val'
         ELSE 'train'
       END AS split
FROM (
  SELECT doc_id, lang, source,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           * 1000 AS u
  FROM documents)
""",
    doc="deterministic train/val/test split (10/10/80 permille bands of "
        "the md5-uniform id hash): hash-based so a document keeps its "
        "split across dataset releases — the property that prevents "
        "silent eval contamination as the corpus grows. Map-only, zero "
        "shuffle, exact integer band compare (operators/text."
        "train_val_test_split)",
    tags=("llm", "curation", "sampling"),
)
def q_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text.train_val_test_split(docs).select(
        "doc_id", "lang", "source", "split"
    )


@register(
    "llm_vocabulary",
    """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
counts AS (
  SELECT term, COUNT(*) AS count FROM tok WHERE term != '' GROUP BY term)
SELECT term,
       CAST(ROW_NUMBER() OVER (ORDER BY count DESC, term) AS BIGINT)
         AS term_id,
       count
FROM counts
""",
    doc="frequency-ranked vocabulary (term, dense term_id, count) — "
        "tokenizer/embedding-table construction. The ranking runs via "
        "windows.exact_row_number: broadcast count-offsets + a window "
        "PARTITIONED by count, so no single-partition sort even at a "
        "hundreds-of-millions-term vocabulary (the offset collect "
        "scales with distinct COUNT VALUES — Zipf-small); the oracle "
        "keeps DuckDB's global ROW_NUMBER as the independent form",
    tags=("llm", "text", "vocabulary"),
)
def q_vocabulary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.vocabulary(load_table(spark, sf_dir, "documents"))


@register(
    "llm_zipf_slope",
    """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS term FROM documents),
counts AS (
  SELECT term, COUNT(*) AS count FROM tok WHERE term != '' GROUP BY term),
ranked AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY count DESC, term) AS BIGINT)
           AS term_id,
         count
  FROM counts),
q AS (
  SELECT CAST(floor(ln(CAST(term_id AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS qx,
         CAST(floor(ln(CAST(count AS DOUBLE)) * 1000000 + 0.5)
              AS BIGINT) AS qy
  FROM ranked),
m AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(CAST(qx AS HUGEINT)) AS sx, SUM(CAST(qy AS HUGEINT)) AS sy,
         SUM(CAST(qx AS HUGEINT) * qy) AS sxy,
         SUM(CAST(qx AS HUGEINT) * qx) AS sxx
  FROM q)
SELECT CAST(n AS BIGINT) AS n_terms,
       CAST(((sx * sy - n * sxy) * 1000000) // (n * sxx - sx * sx)
            AS BIGINT) AS zipf_alpha_micro
FROM m WHERE n * sxx - sx * sx > 0
""",
    doc="Zipf exponent of the corpus vocabulary (text.zipf_slope): "
        "negated log-log OLS slope of term frequency on frequency rank "
        "in exact micro-units — the corpus-statistics diagnostic (α≈1 "
        "for natural language; collapsed α flags boilerplate floods, "
        "inflated α flags template domination). Rank and count are "
        "identical integers both engines (exact_row_number total "
        "order), every ln term quantizes ONCE to int64 micro-nats from "
        "those integers (the ccnet/psi/MI discipline), the five OLS "
        "moments are exact DECIMAL(38,0) sums, and α is an integral "
        "division of two nonnegative integers. Rides vocabulary's "
        "no-global-sort ranking; the OLS is one map-side aggregate "
        "over the vocabulary relation",
    tags=("llm", "text", "statistics", "scale"),
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.zipf_slope(load_table(spark, sf_dir, "documents"))


@register(
    "llm_kl_source_divergence",
    """
WITH tok AS (
  SELECT source AS g, unnest(string_split(text, ' ')) AS term
  FROM documents WHERE source IS NOT NULL),
cells AS (
  SELECT g, term, CAST(COUNT(*) AS BIGINT) AS o
  FROM tok WHERE term != '' GROUP BY g, term),
ns AS (SELECT g, CAST(SUM(o) AS BIGINT) AS ns FROM cells GROUP BY g),
ct AS (SELECT term, CAST(SUM(o) AS BIGINT) AS ct FROM cells GROUP BY term),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
q AS (
  SELECT cells.g, ns.ns,
         CAST(floor((CAST(o AS DOUBLE) / ns)
              * ln((CAST(o AS DOUBLE) * n) / (CAST(ns AS DOUBLE) * ct))
              * 1000000 + 0.5) AS BIGINT) AS kc
  FROM cells JOIN ns USING (g) JOIN ct USING (term) CROSS JOIN tot)
SELECT g AS source, ns AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_terms,
       CAST(SUM(kc) AS BIGINT) AS kl_micro
FROM q GROUP BY g, ns
""",
    doc="per-source KL divergence of the TOKEN distribution from the "
        "corpus distribution in exact integer micro-nats "
        "(text.kl_source_divergence) — the curation signal for "
        "source-level shift in TOKEN space: the drift family watches a "
        "numeric column like length; this watches what the source "
        "actually SAYS (a source full of boilerplate, code, or another "
        "register shows a large KL even when its length distribution "
        "is unremarkable — which source do I downweight before it "
        "skews the LM). KL(p_src || p_corpus) = SUM_t (c_st/n_s) * "
        "ln((c_st*n)/(n_s*c_t)) over the source's observed terms — "
        "p_corpus(t) > 0 whenever c_st > 0, so no smoothing and every "
        "term finite. The ccnet/MI micro-unit discipline: each cell "
        "computed from identical integers through identical correctly-"
        "rounded double ops, quantized ONCE (mode-stable "
        "floor(x*1e6 + 0.5), safe for the slightly-negative cells a "
        "common term contributes), then the per-source reduction is an "
        "exact int64 SUM — no parallel float accumulation. Plan: one "
        "scan + explode to the (source, term) cell relation "
        "(|sources| x |vocab|, Zipf-bounded — never the corpus), "
        "source margins as a window BY SOURCE, term margins BY TERM, "
        "grand total as a 1-row broadcast (never a whole-relation "
        "single-partition window — the MI margin-as-join lesson)",
    tags=("llm", "text", "drift", "statistics", "scale"),
)
def q_kl_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.kl_source_divergence(load_table(spark, sf_dir, "documents"))


@register(
    "llm_unigram_logprob",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term != ''),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok2 GROUP BY term),
tot AS (SELECT COUNT(*) AS total FROM tok2),
nlp AS (
  SELECT term,
         CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5)
              AS BIGINT) AS nlp_micro
  FROM counts CROSS JOIN tot)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(CAST(SUM(nlp_micro) AS BIGINT) AS DOUBLE)
         / (1000000.0 * COUNT(*)) AS avg_neg_logprob
FROM tok2 JOIN nlp USING (term)
GROUP BY doc_id
""",
    doc="unigram-LM document scoring (mean negative log probability of "
        "each token under the corpus unigram distribution) — the "
        "model-based quality-filter class (CCNet/KenLM perplexity "
        "filtering with the simplest exact LM). High = corpus-rare "
        "gibberish, low = boilerplate. Aggregation-order-deterministic "
        "scoring (the ccnet discipline): per-TERM micro-unit "
        "quantization, exact int64 doc sums, one double division — "
        "no parallel double AVG to flake on thread order. Three "
        "shuffles: unigram table, token->count join, per-doc sum; at "
        "100 TB the pruned unigram table is Zipf-small and "
        "broadcastable (operators/text.unigram_logprob)",
    tags=("llm", "text", "quality", "lm"),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.unigram_logprob(
        load_table(spark, sf_dir, "documents"), exact_micro=True
    ).select("doc_id", "n_tokens", "avg_neg_logprob")


@register(
    "llm_bigram_logprob",
    """
WITH pos AS (
  SELECT doc_id, term, pos FROM (
    SELECT doc_id,
           unnest(string_split(text, ' ')) AS term,
           unnest(generate_series(1, len(string_split(text, ' ')))) AS pos
    FROM documents)
  WHERE term != ''),
bg AS (
  SELECT doc_id, prev, term FROM (
    SELECT doc_id, term, pos,
           LAG(term) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
    FROM pos)
  WHERE prev IS NOT NULL),
c2 AS (SELECT prev, term, COUNT(*) AS c2 FROM bg GROUP BY prev, term),
c1 AS (SELECT prev, SUM(c2) AS c1 FROM c2 GROUP BY prev),
nlp AS (
  SELECT prev, term,
         CAST(floor(-ln(CAST(c2 AS DOUBLE) / c1) * 1e6 + 0.5)
              AS BIGINT) AS nlp_micro
  FROM c2 JOIN c1 USING (prev))
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(CAST(SUM(nlp_micro) AS BIGINT) AS DOUBLE)
         / (1e6 * COUNT(*)) AS avg_neg_logprob
FROM bg JOIN nlp USING (prev, term)
GROUP BY doc_id
""",
    doc="bigram (first-order Markov) LM scoring: per-doc mean -ln "
        "p(t_i | t_{i-1}) under the corpus bigram distribution "
        "(operators/text.bigram_logprob) — one modeling step past the "
        "unigram filter and sensitive to WORD ORDER (scrambled text "
        "scores poorly even with a normal unigram mix). Aggregation-"
        "order-deterministic: per-BIGRAM micro-unit quantization, "
        "exact int64 doc sums, one double division (no parallel "
        "double AVG). Bigrams via one doc-partitioned lag window; "
        "pair/context count joins shuffle the pruned bigram table, "
        "never the corpus",
    tags=("llm", "text", "quality", "lm"),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_logprob(
        load_table(spark, sf_dir, "documents"), exact_micro=True
    )


@register(
    "llm_bm25_scores",
    """
WITH base AS (
  SELECT doc_id, t.term, len(string_split(text, ' ')) AS dl
  FROM documents, unnest(string_split(text, ' ')) AS t(term)
  WHERE t.term IN ('window', 'merge', 'spark')),
corpus AS (
  SELECT COUNT(*) AS n_docs,
         AVG(len(string_split(text, ' '))) AS avgdl
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
  FROM base GROUP BY doc_id, term),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
SELECT doc_id,
       round(SUM(
         ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
         * (tf * (1.2 + 1.0))
           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
       ), 6) AS score
FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
GROUP BY doc_id
""",
    doc="Okapi BM25 relevance against a fixed query term set (Lucene "
        "idf form) — the retrieval-scoring step of a search/RAG "
        "pipeline (operators/text.bm25_scores). The token explode "
        "filters to query terms BEFORE any shuffle, so post-filter "
        "work scales with matching documents, not corpus tokens; df "
        "and corpus stats broadcast back",
    tags=("llm", "text", "retrieval"),
)
def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_scores(
        load_table(spark, sf_dir, "documents"),
        ["window", "merge", "spark"],
    )


@register(
    "llm_source_mix",
    """
WITH m AS (SELECT source, lang, COUNT(*) AS n_docs,
                  CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
                    AS total_tokens
           FROM documents GROUP BY source, lang)
SELECT source, lang, n_docs, total_tokens,
       ROUND(CAST(total_tokens AS DOUBLE)
             / CAST(CAST(SUM(total_tokens) OVER () AS BIGINT) AS DOUBLE),
             6) AS token_share
FROM m
""",
    doc="training-mix report: docs and whitespace tokens per "
        "(source, lang) stratum with each stratum's share of corpus "
        "tokens — the dashboard behind stratified_sample's rates; "
        "exact integer token sums, share division in identical double "
        "arithmetic",
    tags=("llm", "curation", "reporting"),
)
def q_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("total_tokens"),
    )
    total = F.sum("total_tokens").over(Window.partitionBy())
    return per.select(
        "source",
        "lang",
        "n_docs",
        "total_tokens",
        F.round(F.col("total_tokens") / total.cast("double"), 6).alias(
            "token_share"
        ),
    )


@register(
    "llm_embedding_quantize",
    """
WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) AS max_abs
  FROM embeddings),
q AS (
  SELECT vec_id, embedding, max_abs, max_abs / 127.0 AS s,
         CASE WHEN max_abs = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding,
                     x -> CAST(ROUND(CAST(x AS DOUBLE) / (max_abs / 127.0))
                               AS INT))
         END AS q8
  FROM m)
SELECT vec_id, ROUND(s, 9) AS scale,
       array_to_string(q8, ',') AS q8_csv,
       ROUND(list_max(list_transform(list_zip(q8, embedding),
                z -> abs(CAST(z[1] AS DOUBLE) * s
                         - CAST(z[2] AS DOUBLE)))), 9) AS max_abs_err
FROM q
""",
    doc="per-vector symmetric int8 scalar quantization (Faiss SQ8 "
        "shape): scale = max|x|/127, q = round(x/scale) — the 4x "
        "storage/bandwidth lever for corpus-scale embedding stores; "
        "pure JVM higher-order expressions fused with the scan (zero "
        "shuffle, no UDF), with max reconstruction error as audit",
    tags=("llm", "embedding", "quantization"),
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))
    # The driver's comparator value-hashes via pandas, which cannot hash
    # list cells — serialize the int8 vector to CSV on both sides.
    return q.select(
        "vec_id",
        "scale",
        F.concat_ws(",", F.col("q8").cast("array<string>")).alias("q8_csv"),
        "max_abs_err",
    )


@register(
    "llm_fuzzy_name_pairs",
    """
WITH names AS (SELECT DISTINCT p_name FROM part),
b AS (SELECT p_name, split_part(p_name, ' ', 1) AS blk FROM names)
SELECT a.p_name AS name_a, c.p_name AS name_b,
       levenshtein(a.p_name, c.p_name) AS dist
FROM b a JOIN b c ON a.blk = c.blk AND a.p_name < c.p_name
WHERE levenshtein(a.p_name, c.p_name) <= 4
""",
    doc="fuzzy record linkage with blocking: DISTINCT-project the name "
        "domain FIRST (the 100 TB move — edit distance runs on the "
        "value domain, never the row count), block on the first token "
        "(equi-join, no cartesian), order pairs a<b to halve the work, "
        "then Levenshtein <= 4 inside blocks only. Both engines run "
        "the same per-pair dynamic program, so distances are integers "
        "and hash-exact",
    tags=("llm", "fuzzy", "dedup", "blocking"),
)
def q_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = (
        load_table(spark, sf_dir, "part")
        .select("p_name")
        .distinct()
        .withColumn("blk", F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)))
    )
    a = names.alias("a")
    c = names.alias("c")
    dist = F.levenshtein(F.col("a.p_name"), F.col("c.p_name"))
    return (
        a.join(
            c,
            (F.col("a.blk") == F.col("c.blk"))
            & (F.col("a.p_name") < F.col("c.p_name")),
        )
        .filter(dist <= 4)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("c.p_name").alias("name_b"),
            dist.alias("dist"),
        )
    )


@register(
    "llm_incremental_dedup",
    f"""
WITH {_BANDED_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
hits AS (
  SELECT CASE WHEN id_a % 5 = 0 THEN id_a ELSE id_b END AS new_id,
         CASE WHEN id_a % 5 = 0 THEN id_b ELSE id_a END AS corpus_id
  FROM pairs
  WHERE (id_a % 5 = 0) <> (id_b % 5 = 0)),
agg AS (SELECT new_id, MIN(corpus_id) AS dup_of,
               CAST(COUNT(*) AS BIGINT) AS n_corpus_hits
        FROM hits GROUP BY new_id)
SELECT d.doc_id, a.dup_of,
       COALESCE(a.n_corpus_hits, 0) AS n_corpus_hits,
       a.dup_of IS NOT NULL AS is_dup
FROM documents d LEFT JOIN agg a ON a.new_id = d.doc_id
WHERE d.doc_id % 5 = 0
""",
    doc="INCREMENTAL dedup — the nightly-ingest shape: screen a new "
        "batch (docs with id % 5 = 0, ~20%) against the standing corpus "
        "without re-pairing the corpus with itself. MinHash-LSH "
        "candidates filtered to cross (corpus, new) collisions only; "
        "each new doc reports its lowest-id corpus collision and hit "
        "count. At 100 TB the corpus side's signatures are precomputed "
        "and the batch side is small, so the bucket join is "
        "batch-sized, not corpus-sized — intra-batch duplicates are "
        "intentionally out of scope (that's the batch's own LSH pass)",
    tags=("llm", "dedup", "incremental", "minhash"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    pairs = dedup.incremental_candidates(
        corpus, batch, num_perms=_NUM_PERMS, bands=_BANDS
    )
    hits = pairs.groupBy("batch_id").agg(
        F.min("corpus_id").alias("dup_of"),
        F.count(F.lit(1)).alias("n_corpus_hits"),
    )
    return (
        batch.select("doc_id")
        .join(hits, F.col("doc_id") == F.col("batch_id"), "left")
        .select(
            "doc_id",
            "dup_of",
            F.coalesce("n_corpus_hits", F.lit(0)).alias("n_corpus_hits"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


@register(
    "llm_sequence_packing",
    f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(list_sum(list_transform({_TOKS},
                                      w -> {_bpe_len_sql('w')}))
              AS BIGINT) AS n_tokens
  FROM documents),
c AS (
  SELECT *,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING) - n_tokens
            AS BIGINT) AS cum_before
  FROM tok)
SELECT doc_id, source, n_tokens,
       CAST(cum_before // 2048 AS BIGINT) AS seq_id,
       CAST(cum_before % 2048 AS INT) AS seq_offset
FROM c
""",
    doc="training-sequence packing (concat-then-chunk): per source, "
        "documents concatenate in doc_id order and cut into fixed "
        "2048-token sequences; each doc learns which sequence its first "
        "token lands in and at what offset. Token counts are REAL BPE "
        "subword counts (llm_bpe_tokens' fixed merge table) since r9 — "
        "the budget a training job actually packs against; whitespace "
        "counting undercounted long words ~4x. ONE window shuffle on "
        "source — the exclusive running sum is the whole algorithm; "
        "integer token counts keep both engines exact. The 100 TB "
        "version partitions by (source, shard) with carried-in shard "
        "base offsets — same arithmetic, no global sort",
    tags=("llm", "packing", "window", "bpe"),
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as text_ops

    docs = load_table(spark, sf_dir, "documents")
    tok = text_ops.bpe_token_stats(docs, "text").select(
        "doc_id", "source", F.col("bpe_tokens").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = tok.withColumn(
        "cum_before", F.sum("n_tokens").over(w) - F.col("n_tokens")
    )
    return c.select(
        "doc_id",
        "source",
        "n_tokens",
        F.expr("cum_before div 2048").alias("seq_id"),
        (F.col("cum_before") % 2048).cast("int").alias("seq_offset"),
    )


@register(
    "llm_mix_temperature",
    """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  GROUP BY source),
sq AS (
  SELECT source, n_docs,
         ROUND(SQRT(CAST(n_docs AS DOUBLE)), 9) AS w_raw
  FROM counts),
tot AS (
  SELECT CAST(SUM(CAST(w_raw AS DECIMAL(18,9))) AS DOUBLE) AS z FROM sq)
SELECT source, n_docs,
       w_raw / z AS weight,
       CAST(ROUND(100000 * (w_raw / z)) AS BIGINT) AS target_docs
FROM sq CROSS JOIN tot
""",
    doc="temperature-weighted training mix (T=2 sampling, i.e. "
        "p proportional to n^(1/2)): per-source target counts for a "
        "100k-doc budget, flattening the source imbalance the way "
        "multilingual/multi-source LLM training mixes do. sqrt is "
        "IEEE-exact in both engines (unlike pow, whose libm vs JVM "
        "last-ulp disagreement would break the hash), the rounded "
        "weights sum exactly via DECIMAL, and the division is one "
        "identical double op. Scale: |sources| rows after one "
        "partial-agg shuffle, then a 1-row broadcast",
    tags=("llm", "sampling", "mix"),
)
def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    sq = counts.withColumn(
        "w_raw", F.round(F.sqrt(F.col("n_docs").cast("double")), 9)
    )
    tot = sq.agg(
        F.sum(F.col("w_raw").cast("decimal(18,9)")).cast("double").alias("z")
    )
    return (
        sq.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            (F.col("w_raw") / F.col("z")).alias("weight"),
            F.round(F.lit(100000) * (F.col("w_raw") / F.col("z")))
            .cast("bigint")
            .alias("target_docs"),
        )
    )


@register(
    "llm_minhash_calibration",
    f"""
WITH {_BANDED_CTE.strip()},
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(list_sum(list_transform(list_zip(a.sig, b.sig),
                       z -> CASE WHEN z[1] = z[2] THEN 1 ELSE 0 END))
              AS DOUBLE) / {_NUM_PERMS} AS est_jaccard
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
sh AS (SELECT DISTINCT doc_id, h
       FROM (SELECT doc_id, unnest(hs) AS h FROM hsh)),
tot AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.id_a, c.id_b, MIN(c.est_jaccard) AS est_jaccard,
         COUNT(*) AS n_shared
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.h = sa.h
  GROUP BY c.id_a, c.id_b),
scored AS (
  SELECT s.est_jaccard,
         ROUND(CAST(s.n_shared AS DOUBLE)
               / (ta.n + tb.n - s.n_shared), 9) AS exact_j
  FROM shared s
  JOIN tot ta ON ta.doc_id = s.id_a
  JOIN tot tb ON tb.doc_id = s.id_b)
SELECT est_jaccard,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(CAST(SUM(CAST(exact_j AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*)
            AS DOUBLE) AS mean_exact_jaccard
FROM scored GROUP BY est_jaccard
""",
    doc="MinHash estimator CALIBRATION — the observability surface a "
        "production dedup pipeline monitors: for every estimated-Jaccard "
        "level the LSH emits (k/8 for 8 perms), the mean EXACT shingle "
        "Jaccard over those candidate pairs. Exact intersections run "
        "only on candidates (subquadratic); per-pair scores round to "
        "9 dp then sum in DECIMAL so the mean is order-independent. "
        "Drift between est and exact is the signal to retune "
        "perms/bands before recall silently degrades",
    tags=("llm", "dedup", "minhash", "calibration"),
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.hashing import shingle_hash_rows

    docs = load_table(spark, sf_dir, "documents")
    # ONE shingle pass + ONE dedup (r19): the candidate generator and
    # the exact-Jaccard legs (sh used as BOTH self-join sides + the
    # totals) all read one materialized (id, h) set — was one window
    # pass in the candidate leg plus one per sh consumer
    hashed = (
        shingle_hash_rows(docs, "text", "doc_id", 3)
        .select("doc_id", "h")
        .distinct()
        .localCheckpoint()
    )
    cand = dedup.minhash_candidates(
        docs, num_perms=_NUM_PERMS, bands=_BANDS, hashed=hashed
    )
    sh = hashed.select(F.col("doc_id").alias("__id"), "h")
    tot = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("n"))
    shared = (
        cand.join(sh, cand["id_a"] == sh["__id"])
        .select("id_a", "id_b", "est_jaccard", "h")
        .join(
            sh.select(F.col("__id").alias("__idb"), F.col("h").alias("__hb")),
            (F.col("id_b") == F.col("__idb")) & (F.col("h") == F.col("__hb")),
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.min("est_jaccard").alias("est_jaccard"),
            F.count(F.lit(1)).alias("n_shared"),
        )
    )
    scored = (
        shared.join(
            tot.select(F.col("__id"), F.col("n").alias("n_a")),
            F.col("id_a") == F.col("__id"),
        )
        .drop("__id")
        .join(
            tot.select(F.col("__id"), F.col("n").alias("n_b")),
            F.col("id_b") == F.col("__id"),
        )
        .drop("__id")
        .select(
            "est_jaccard",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                9,
            ).alias("exact_j"),
        )
    )
    return scored.groupBy("est_jaccard").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        (
            F.sum(F.col("exact_j").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1))
        )
        .cast("double")
        .alias("mean_exact_jaccard"),
    )


@register(
    "llm_length_deciles",
    f"""
WITH tok AS (
  SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens FROM documents)
SELECT doc_id, n_tokens,
       CAST(NTILE(10) OVER (ORDER BY n_tokens, doc_id) AS INT) AS decile
FROM tok
""",
    doc="token-length deciles (exact NTILE parity over a deterministic "
        "total order — ties broken by doc_id so both engines assign "
        "identical buckets): the binning used for length-balanced "
        "batch construction and length-stratified eval draws. Built "
        "with operators/windows.exact_ntile — per-length counts fold "
        "into broadcast rank offsets, row_number runs PARTITIONED by "
        "length, and the bucket is a closed-form map-side expression. "
        "No single-partition window anywhere in the plan "
        "(tests/test_plans.py pins it); the oracle keeps DuckDB's "
        "global NTILE as the independent formulation",
    tags=("llm", "binning", "window"),
)
def q_length_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import text as text_ops
    from ..operators.windows import exact_ntile

    docs = load_table(spark, sf_dir, "documents")
    tok = text_ops.token_stats(docs, "text").select(
        "doc_id", F.col("ws_tokens").cast("int").alias("n_tokens")
    )
    return exact_ntile(tok, "n_tokens", "doc_id", 10, out_col="decile")


@register(
    "llm_token_entropy",
    """
WITH c AS (
  SELECT doc_id, term, COUNT(*) AS c FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE term != '' GROUP BY doc_id, term)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
       round(ln(CAST(SUM(c) AS DOUBLE))
             - SUM(c * ln(c)) / SUM(c), 6) AS token_entropy
FROM c GROUP BY doc_id
""",
    doc="per-document Shannon entropy of the token distribution "
        "(operators/text.token_entropy) — the vocabulary-diversity "
        "quality signal; sees distribution SKEW where the repetition "
        "ratio only sees duplicate existence. Closed form ln(n) - "
        "sum(c ln c)/n keeps the single float reduction at the end",
    tags=("llm", "text", "quality"),
)
def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_entropy(load_table(spark, sf_dir, "documents"))


# --- dedup policy / data selection / embedding QA (round 9) -----------------

_ALPHA_COUNT = f"len(list_filter({_TOKS}, t -> regexp_full_match(t, '[a-zA-Z]+')))"


@register(
    "llm_dedup_keep_best",
    f"""
WITH RECURSIVE {_BANDED_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL SELECT id_b, id_a FROM pairs),
reach(id, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
clusters AS (SELECT id AS doc_id, MIN(label) AS cluster_id
             FROM reach GROUP BY id),
q AS (SELECT doc_id, CAST({_ALPHA_COUNT} AS BIGINT) AS quality
      FROM documents)
SELECT c.doc_id, c.cluster_id, q.quality,
       ROW_NUMBER() OVER (PARTITION BY c.cluster_id
                          ORDER BY q.quality DESC, c.doc_id) = 1 AS is_kept
FROM clusters c JOIN q USING (doc_id)
""",
    doc="the QUALITY-RANKED dedup action (operators/dedup."
        "keep_best_per_cluster): per MinHash-LSH duplicate cluster keep "
        "the highest-quality member (integer alpha-token count, min-id "
        "tiebreak) instead of the arbitrary min-id — the RefinedWeb/"
        "FineWeb-style policy; clustering and selection deliberately "
        "separate so the transitive closure is computed once per "
        "policy family. Audit form: every doc with is_kept flag",
    tags=("llm", "dedup", "curation", "graph"),
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidates(docs, num_perms=_NUM_PERMS, bands=_BANDS)
    clusters = dedup.duplicate_clusters(pairs, docs)
    quality = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), " "),
                     lambda t: t.rlike("^[a-zA-Z]+$"))
        ).cast("long").alias("quality"),
    )
    return dedup.keep_best_per_cluster(clusters, quality)


@register(
    "llm_token_budget_selection",
    f"""
WITH s AS (
  SELECT doc_id,
         CAST(2 * {_ALPHA_COUNT} - len({_TOKS}) AS BIGINT) AS score,
         CAST(len({_TOKS}) AS BIGINT) AS n_tokens
  FROM documents),
tot AS (SELECT SUM(n_tokens) AS t FROM s),
o AS (SELECT s.*, SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS cum
      FROM s)
SELECT doc_id, score, n_tokens FROM o, tot WHERE cum <= t // 4
""",
    doc="greedy data selection under a TOKEN BUDGET (operators/text."
        "token_budget_selection): keep the best-scored docs (integer "
        "2*alpha-n_tokens, id tiebreak) until 25 percent of corpus "
        "tokens — the budgeted-training selection downstream of any "
        "scorer. The oracle states the spec (global ordered cumsum); "
        "the engine decomposes it scale-correctly: per-score totals "
        "(narrow shuffle), threshold on that SMALL relation, full "
        "scores broadcast back, one boundary score resolved per-doc",
    tags=("llm", "curation", "selection"),
)
def q_token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_budget_selection(
        load_table(spark, sf_dir, "documents"), budget_num=1, budget_den=4
    )


@register(
    "llm_embedding_outliers",
    """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT))
           AS qv
  FROM embeddings),
e AS (SELECT vec_id, label, d - 1 AS dim, qv[d] AS qd
      FROM q, UNNEST(generate_series(1, len(qv))) u(d)),
s AS (SELECT label, dim, SUM(qd) AS sd, COUNT(*) AS n
      FROM e GROUP BY label, dim),
c AS (SELECT label, dim,
             (2 * sd + n - (((2 * sd + n) % (2 * n)) + 2 * n) % (2 * n))
               // (2 * n) AS cd
      FROM s),
d2 AS (SELECT e.vec_id, e.label,
              SUM((e.qd - c.cd) * (e.qd - c.cd)) AS dist_sq
       FROM e JOIN c ON e.label = c.label AND e.dim = c.dim
       GROUP BY e.vec_id, e.label),
r AS (SELECT vec_id, label, dist_sq,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY dist_sq DESC, vec_id)
               AS outlier_rank
      FROM d2)
SELECT vec_id, label, CAST(outlier_rank AS INT) AS outlier_rank,
       ROUND(sqrt(CAST(dist_sq AS DOUBLE)) / 1000000, 6) AS dist
FROM r WHERE outlier_rank <= 5
""",
    doc="per-label embedding OUTLIERS (operators/similarity."
        "embedding_outliers): top-5 farthest vectors from their group "
        "centroid — the embedding-side noise/mislabel gate. Exact "
        "cross-engine: micro-unit integer quantization (mode-stable "
        "floor(x*1e6+0.5)), int64 group sums, quantized centroid, "
        "BIGINT rank order — no float ever decides an order; the "
        "reported distance converts the same integer on both engines",
    tags=("llm", "embedding", "quality", "curation"),
)
def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_outliers(
        load_table(spark, sf_dir, "embeddings"), k=5
    )


def _quality_classifier_oracle_sql() -> str:
    """llm_quality_classifier oracle: the identical feature fragments
    the llm_text_quality oracle uses, folded into the logit in the
    SAME left-to-right weight order as text.quality_classifier — the
    double arithmetic is then a cross-engine identity (no exp())."""
    feats = {
        "q_alpha_ratio":
            f"(CAST({_ALPHA_COUNT} AS DOUBLE) / len({_TOKS}))",
        "q_stopword_ratio":
            f"(CAST(len(list_filter({_TOKS}, "
            f"t -> list_contains({_STOPS_SQL}, t))) AS DOUBLE) "
            f"/ len({_TOKS}))",
        "q_mean_token_len":
            f"(CAST(length(text) - len({_TOKS}) + 1 AS DOUBLE) "
            f"/ len({_TOKS}))",
        "q_punct_ratio":
            f"(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE) "
            f"/ len({_TOKS}))",
        "q_len_capped":
            f"(CAST(least(len({_TOKS}), 400) AS DOUBLE) / 400.0)",
    }
    z = str(text.QUALITY_LOGIT_BIAS)
    for name, w in text.QUALITY_LOGIT_WEIGHTS:
        z = f"{z} + {w} * {feats[name]}"
    return f"""
SELECT doc_id, round({z}, 6) AS logit, ({z}) > 0 AS keep
FROM documents
"""


@register(
    "llm_quality_classifier",
    _quality_classifier_oracle_sql(),
    doc="classifier-based quality gate (text.quality_classifier — the "
        "GPT-3/LLaMA-style model filter past heuristic thresholds): "
        "fixed-weight logistic over the Gopher/C4 feature set, shipped "
        "as an artifact like the BPE merge table. Deliberately "
        "transcendental-free: thresholding the LINEAR logit at 0 "
        "equals thresholding the sigmoid at 0.5 (monotone), and the "
        "logit is rational double arithmetic in a pinned evaluation "
        "order — exp() differs across libm implementations in the last "
        "ulp and would poison a value-hash. Zero-shuffle codegen map",
    tags=("llm", "text", "quality", "curation", "classifier"),
)
def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_classifier(load_table(spark, sf_dir, "documents"))


def _cluster_balanced_sample_oracle_sql(k: int = 25, iters: int = 5) -> str:
    """llm_cluster_balanced_sample oracle: the shared k-means
    assignment chain + a per-cluster deterministic hash-order exact-k
    draw (the llm_sample_k_per_stratum rule, stratified by LEARNED
    cluster instead of a stored column)."""
    ctes = _ivf_assign_ctes()
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT vec_id, CAST(c AS INT) AS centroid
FROM (SELECT ac.neighbor_id AS vec_id, ac.c,
             ROW_NUMBER() OVER (
               PARTITION BY ac.c
               ORDER BY md5(CAST(ac.neighbor_id AS VARCHAR)),
                        ac.neighbor_id) AS rk
      FROM ac)
WHERE rk <= {k}""")


@register(
    "llm_cluster_balanced_sample",
    _cluster_balanced_sample_oracle_sql(),
    doc="cluster-BALANCED diversity sampling: exact k=25 docs per "
        "LEARNED k-means cluster (vs llm_sample_k_per_stratum's "
        "stored-column strata) — the embedding-space coverage draw "
        "that keeps a subsample from collapsing onto the dense modes, "
        "standard ahead of expensive human/LLM annotation. Membership "
        "is an md5 order statistic (deterministic, partition-"
        "independent); the rank window partitions by cluster, so no "
        "global sort exists. Oracle = the shared unrolled k-means "
        "chain + the same hash-order QUALIFY draw",
    tags=("llm", "similarity", "kmeans", "sampling", "curation"),
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cent = similarity.train_centroids(emb, n_centroids=16)
    asg = similarity.assign_centroids(emb, cent)
    w = Window.partitionBy("centroid").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        asg.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 25)
        .select("vec_id", "centroid")
    )


def _prototype_pruning_oracle_sql(drop_pct: int = 25, iters: int = 5) -> str:
    """llm_prototype_pruning oracle: the shared k-means chain with a
    sim-carrying final assignment, then the identical per-cluster
    micro-unit-integer prototypicality rank and integer drop count."""
    from ..operators.similarity import IVF_ROUND_SIM

    ctes = _ivf_assign_ctes()
    dot_nc = ("list_sum(list_transform(list_zip(n.v, c.v), "
              "z -> z[1]::DOUBLE * z[2]::DOUBLE))")
    # `ac` drops the sim; re-derive the rk=1 assignment keeping it
    ctes.append(f"""acs AS MATERIALIZED (
  SELECT vec_id, c, sim FROM (
    SELECT n.vec_id, c.c, round({dot_nc}, {IVF_ROUND_SIM}) AS sim,
           ROW_NUMBER() OVER (PARTITION BY n.vec_id
             ORDER BY round({dot_nc}, {IVF_ROUND_SIM}) DESC, c.c) AS rk
    FROM norm n CROSS JOIN c{iters} c) WHERE rk = 1)""")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT vec_id, CAST(c AS INT) AS centroid, sim AS proto_sim,
       rk > (n * {drop_pct}) // 100 AS is_kept
FROM (SELECT vec_id, c, sim,
             ROW_NUMBER() OVER (
               PARTITION BY c
               ORDER BY CAST(round(sim * 1000000) AS BIGINT) DESC,
                        vec_id) AS rk,
             COUNT(*) OVER (PARTITION BY c) AS n
      FROM acs)""")


@register(
    "llm_prototype_pruning",
    _prototype_pruning_oracle_sql(),
    doc="prototypicality-based data PRUNING (similarity."
        "prototype_pruning; Sorscher et al. '22, arXiv:2206.14486): "
        "rank each learned cluster's members by cosine to their own "
        "centroid and drop the most prototypical 25% per cluster — "
        "thins the redundant 'easy' core of each embedding mode, "
        "keeping the hard boundary examples. The complement of "
        "SemDeDup (near-duplicate removal): no pair join exists at "
        "all — ONE Arrow BLAS assignment pass + one narrow rank "
        "window on centroid. The rank compares round(sim*1e6) as "
        "BIGINT with id tiebreak and the drop count is (size*25) div "
        "100 — integer arithmetic end-to-end, so the unrolled k-means "
        "oracle replays the selection exactly",
    tags=("llm", "similarity", "kmeans", "curation", "pruning"),
)
def q_prototype_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.prototype_pruning(
        load_table(spark, sf_dir, "embeddings"), drop_pct=25
    )


_CMS_ORACLE_SQL = """
WITH toks AS MATERIALIZED (
  SELECT list_filter(string_split(text, ' '), t -> t != '') AS ts
  FROM documents),
tok AS MATERIALIZED (
  SELECT ts[i] || ' ' || ts[i + 1] AS term
  FROM toks, unnest(range(1, len(ts))) r(i)),
tc AS MATERIALIZED (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM tok GROUP BY term),
hb AS MATERIALIZED (
  SELECT term, exact_count, i,
         ('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || term), 1, 15))
           ::BIGINT % 256 AS b
  FROM tc CROSS JOIN range(0, 4) r(i)),
sk AS MATERIALIZED (
  SELECT i, b, CAST(SUM(exact_count) AS BIGINT) AS cms
  FROM hb GROUP BY i, b),
est AS (
  SELECT hb.term,
         CAST(MAX(hb.exact_count) AS BIGINT) AS exact_count,
         CAST(MIN(sk.cms) AS BIGINT) AS est_count
  FROM hb JOIN sk USING (i, b) GROUP BY hb.term),
tot AS (SELECT CAST(SUM(exact_count) AS BIGINT) AS n FROM tc)
SELECT term, est_count, exact_count,
       est_count - exact_count AS overestimate,
       est_count <= exact_count + (3 * n + 255) // 256 AS within_bound
FROM est CROSS JOIN tot
WHERE est_count >= GREATEST((n * 1) // 1000, 1)
"""


@register(
    "llm_heavy_hitters_cms",
    _CMS_ORACLE_SQL,
    doc="count-min-sketch heavy hitters (text.cms_heavy_hitters; "
        "Cormode & Muthukrishnan '05) over word bigrams: a 4x256 "
        "counter sketch built on the md5 bucket identity estimates "
        "every bigram's frequency; bigrams whose ESTIMATE reaches "
        "1 permille of the corpus ship with exact companion, "
        "overestimate, and a ceil(3N/w) bound audit — the "
        "ana_approx_sketches contract, but hash-green because the "
        "sketch itself is deterministic integer arithmetic both "
        "engines replay verbatim. The ~930-bigram key space exceeds "
        "the 256-bucket width, so collisions (the thing CMS trades "
        "for bounded memory) actually occur and the audit columns "
        "show them. ONE corpus-scale count shuffle; sketch counters "
        "derive from the bounded distinct-bigram relation (each hash "
        "is a pure key function), broadcast back for the min-of-d "
        "lookup; total on a broadcast 1-row cross join",
    tags=("llm", "text", "sketch", "frequency"),
)
def q_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.cms_heavy_hitters(load_table(spark, sf_dir, "documents"))


@register(
    "llm_temperature_resample",
    """
WITH counts AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
  WHERE source IS NOT NULL
  GROUP BY source),
sq AS (
  SELECT source, n_docs,
         ROUND(SQRT(CAST(n_docs AS DOUBLE)), 9) AS w_raw
  FROM counts),
tot AS (
  SELECT CAST(SUM(CAST(w_raw AS DECIMAL(18,9))) AS DOUBLE) AS z FROM sq),
tgt AS (
  SELECT source, n_docs,
         CAST(ROUND((100000 * w_raw) / z) AS BIGINT) AS target
  FROM sq CROSS JOIN tot),
rk AS (
  SELECT d.doc_id, d.source, t.n_docs, t.target,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
  FROM documents d JOIN tgt t USING (source))
SELECT doc_id, source,
       target // n_docs
         + CASE WHEN rk <= target % n_docs THEN 1 ELSE 0 END AS n_copies
FROM rk
""",
    doc="temperature-mix RESAMPLE action (text.temperature_resample): "
        "realizes llm_mix_temperature's per-source targets as exact "
        "per-document copy counts — base epochs = target div n (rare "
        "sources repeat whole epochs, the multilingual standard), the "
        "target mod n remainder docs with one extra copy drawn by the "
        "engine's (md5(id), id) order statistic, so SUM(n_copies) per "
        "source equals the target TO THE ROW and any engine picks the "
        "same docs. Closes the mixing loop the way bpe_train->encode "
        "closed the tokenizer loop. Audit form (n_copies = 0 rows "
        "show exclusions); |sources|-row target relation broadcast "
        "back; the per-source rank window's 100 TB decomposition (the "
        "token-budget boundary-bucket trick) is documented on the "
        "operator",
    tags=("llm", "sampling", "mix", "curation"),
)
def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.temperature_resample(load_table(spark, sf_dir, "documents"))


@register(
    "llm_shard_assignment",
    f"""
WITH k AS (
  SELECT doc_id,
         {_h60("'shard-42:' || CAST(doc_id AS VARCHAR)")} AS shuffle_key
  FROM documents)
SELECT doc_id, shuffle_key, shuffle_key % 8 AS shard,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY shuffle_key % 8
         ORDER BY shuffle_key, doc_id) AS BIGINT) AS position
FROM k
""",
    doc="deterministic global training shuffle (text.shard_assignment): "
        "shard = md5(seed:id) mod N, position = rank within the shard — "
        "the reproducible corpus-ordering step every training job needs, "
        "with no engine rand() and no zipWithIndex. The window is "
        "partitioned BY SHARD so there is never a global sort; at 100 TB "
        "n_shards is set >> executors (1024+) and the per-shard rank is "
        "Spark's spillable external sort, one file per shard on write",
    tags=("llm", "sampling", "shuffle"),
)
def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.shard_assignment(load_table(spark, sf_dir, "documents"))


@register(
    "llm_ngram_novelty",
    f"""
WITH {_HS_CTES.strip()},
pairs AS (
  SELECT DISTINCT doc_id, h
  FROM (SELECT doc_id, unnest(hs) AS h FROM hsh)),
attr AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY h) AS first_id FROM pairs)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS novel_grams,
       CAST(SUM(CASE WHEN first_id = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         / CAST(COUNT(*) AS DOUBLE) AS novelty
FROM attr GROUP BY doc_id
""",
    doc="per-document n-gram novelty (dedup.ngram_novelty): fraction of "
        "the doc's distinct 3-gram hashes first seen in THIS doc (global "
        "min id per gram) — catches corpus re-hash content pairwise "
        "dedup can't (a doc stitched from ten earlier docs has max "
        "Jaccard ~0.1 but novelty ~0), and is append-incremental: new "
        "docs never change earlier scores. Three narrow int shuffles "
        "(distinct pairs, min-window BY HASH, per-doc agg); novelty is "
        "exact-int division so the oracle matches bit-for-bit",
    tags=("llm", "dedup", "quality"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_novelty(load_table(spark, sf_dir, "documents"))


@register(
    "llm_token_fertility",
    f"""
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len({_TOKS})) AS BIGINT) AS ws_tokens,
       CAST(SUM(list_sum(list_transform({_TOKS},
                                        w -> {_bpe_len_sql('w')})))
            AS BIGINT) AS bpe_tokens,
       round(CAST(SUM(list_sum(list_transform({_TOKS},
                                              w -> {_bpe_len_sql('w')})))
                  AS DOUBLE)
             / CAST(SUM(len({_TOKS})) AS BIGINT), 6) AS fertility
FROM documents GROUP BY lang
""",
    doc="per-language tokenizer fertility (BPE subwords per whitespace "
        "word) — the multilingual-curation metric that decides whether "
        "a tokenizer taxes some languages with longer sequences (and "
        "therefore smaller effective context) than others; composes "
        "text.bpe_token_stats' zero-shuffle codegen encode with one "
        "|langs|-row aggregate. Exact BIGINT sums, one final 6dp "
        "division",
    tags=("llm", "text", "bpe", "tokenizer"),
)
def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = text.bpe_token_stats(load_table(spark, sf_dir, "documents"))
    return (
        stats.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("ws_tokens"),
            F.sum("bpe_tokens").alias("bpe_tokens"),
        )
        .withColumn(
            "fertility",
            F.round(F.col("bpe_tokens") / F.col("ws_tokens"), 6),
        )
    )


@register(
    "llm_ccnet_buckets",
    """
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tok2 AS (SELECT doc_id, term FROM tok WHERE term != ''),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok2 GROUP BY term),
tot AS (SELECT COUNT(*) AS total FROM tok2),
nlp AS (
  SELECT term,
         CAST(floor(-ln(CAST(cnt AS DOUBLE) / total) * 1000000 + 0.5)
              AS BIGINT) AS nlp_micro
  FROM counts CROSS JOIN tot),
scored AS (
  SELECT doc_id, CAST(SUM(nlp_micro) AS BIGINT) AS sum_micro,
         CAST(COUNT(*) AS BIGINT) AS n_tok
  FROM tok2 JOIN nlp USING (term)
  GROUP BY doc_id)
SELECT d.doc_id, d.lang,
       CAST(s.sum_micro AS DOUBLE) / (1000000.0 * s.n_tok)
         AS avg_neg_logprob,
       CASE NTILE(3) OVER (PARTITION BY d.lang
                           ORDER BY CAST(s.sum_micro AS DOUBLE)
                                    / (1000000.0 * s.n_tok), d.doc_id)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS ppl_bucket
FROM documents d JOIN scored s USING (doc_id)
""",
    doc="CCNet-style perplexity bucketing (Wenzek et al. '19): every "
        "document lands in its language's head / middle / tail tercile "
        "of the unigram-LM score (text.unigram_logprob — low = fluent/"
        "boilerplate, high = rare-token gibberish), the standard "
        "pretraining-corpus partition (train on head+middle, audit "
        "tail). Terciles are per-LANGUAGE so no language is globally "
        "judged by another's fluency scale; the score is aggregation-"
        "order-deterministic (per-TERM micro-unit quantization + exact "
        "int64 doc sums + one double division of identical integers — "
        "a double SUM here would let DuckDB's parallel aggregation "
        "order flip a tercile boundary) and the ntile rides one "
        "lang-partitioned window over it with doc_id "
        "tiebreak (total order -> engine-independent buckets). At "
        "100 TB the per-language window decomposes by the same "
        "256-bucket boundary trick as token_budget_selection "
        "(documented there); the LM side is the Zipf-small unigram "
        "table join",
    tags=("llm", "text", "quality", "lm", "curation"),
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = text.unigram_logprob(docs, exact_micro=True)
    w = Window.partitionBy("lang").orderBy("avg_neg_logprob", "doc_id")
    return (
        docs.select("doc_id", "lang")
        .join(scored.select("doc_id", "avg_neg_logprob"), "doc_id")
        .withColumn("__t", F.ntile(3).over(w))
        .select(
            "doc_id",
            "lang",
            "avg_neg_logprob",
            F.when(F.col("__t") == 1, "head")
            .when(F.col("__t") == 2, "middle")
            .otherwise("tail")
            .alias("ppl_bucket"),
        )
    )


@register(
    "llm_langid_confusion",
    f"""
WITH pred AS (
  SELECT lang AS lang_true, {_lang_id_sql()} AS lang_pred
  FROM documents),
cells AS (
  SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM pred GROUP BY lang_true, lang_pred)
SELECT lang_true, lang_pred, n_docs,
       n_docs * 1000 / SUM(n_docs) OVER (PARTITION BY lang_true)
         AS recall_permille
FROM cells
""",
    doc="language-ID confusion matrix: the classifier-EVAL loop over "
        "llm_lang_id — per (true, predicted) cell counts plus per-true-"
        "language recall permille, the audit a pipeline runs before "
        "trusting a cheap classifier to gate a corpus (which languages "
        "leak into which, what 'und' swallows). ONE scan + one "
        "map-side-combined cell aggregation; the recall window rides "
        "the |langs|² cell relation, never the corpus. Integer counts, "
        "one exact-integer division to double",
    tags=("llm", "text", "langid", "eval"),
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("lang_true"),
            text.lang_id("text").alias("lang_pred"),
        )
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("lang_true")
    return cells.select(
        "lang_true",
        "lang_pred",
        "n_docs",
        (F.col("n_docs") * 1000 / F.sum("n_docs").over(w)).alias(
            "recall_permille"
        ),
    )


@register(
    "llm_gopher_gate",
    f"""
WITH base AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CASE WHEN NOT COALESCE(
               len({_TOKS}) >= 50 AND len({_TOKS}) <= 100000, FALSE)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_ntok,
         CAST(SUM(CASE WHEN NOT COALESCE(
               length(text) - len({_TOKS}) + 1 >= 3 * len({_TOKS})
               AND length(text) - len({_TOKS}) + 1 <= 10 * len({_TOKS}),
               FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_mlen,
         CAST(SUM(CASE WHEN NOT COALESCE(
               len(regexp_extract_all(text, '[.,;:!?]')) * 5
                 <= len({_TOKS}), FALSE)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_punct,
         CAST(SUM(CASE WHEN NOT COALESCE(
               len(list_filter({_TOKS},
                               t -> list_contains({_STOPS_SQL}, t))) * 20
                 >= len({_TOKS}), FALSE)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_stop,
         CAST(SUM(CASE WHEN NOT COALESCE(
               len(list_filter({_TOKS},
                               t -> regexp_full_match(t, '[a-zA-Z]+'))) * 5
                 >= len({_TOKS}) * 3, FALSE)
               THEN 1 ELSE 0 END) AS BIGINT) AS v_alpha
  FROM documents)
SELECT rule, n_violations, n_rows,
       (n_rows - n_violations) * 1000 / n_rows AS pass_permille
FROM (
  SELECT 'tokens_50_to_100k' AS rule, v_ntok AS n_violations, n_rows
  FROM base
  UNION ALL SELECT 'mean_token_len_3_to_10', v_mlen, n_rows FROM base
  UNION ALL SELECT 'punct_le_20pct', v_punct, n_rows FROM base
  UNION ALL SELECT 'stopword_ge_5pct', v_stop, n_rows FROM base
  UNION ALL SELECT 'alpha_ge_60pct', v_alpha, n_rows FROM base)
""",
    doc="Gopher-rules composite quality gate (text.gopher_rules x "
        "expectations.quality_report): per-heuristic violation counts "
        "+ pass permille over the documents corpus in ONE map-side-"
        "combined aggregation — the dry-run report a pipeline reads "
        "before committing to a cut, composing the quality_features "
        "signals into the expectations layer. Every threshold is an "
        "exact integer cross-multiplication on the raw counts "
        "(punct*5 <= tokens, never a double ratio vs 0.2), so "
        "boundary docs gate identically on every engine; NULL "
        "verdicts count as violations (allow-list CHECK semantics)",
    tags=("llm", "text", "quality", "expectations", "curation"),
)
def q_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import expectations as ex

    docs = load_table(spark, sf_dir, "documents")
    return ex.quality_report(docs, text.gopher_rules("text"))


@register(
    "llm_dup_triangles",
    f"""
WITH {_BANDED_CTE.strip()},
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT id_a AS node FROM pairs UNION ALL SELECT id_b FROM pairs)
  GROUP BY node),
ns AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
         CAST(COALESCE(SUM((deg * (deg - 1)) // 2), 0) AS BIGINT)
           AS n_wedges
  FROM deg),
es AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM pairs),
tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
  FROM pairs e1
  JOIN pairs e2 ON e2.id_a = e1.id_b
  JOIN pairs e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b)
SELECT n_nodes, n_edges, n_wedges, n_triangles,
       CASE WHEN n_wedges > 0
            THEN (n_triangles * 3000000) // n_wedges END AS clustering_ppm
FROM ns CROSS JOIN es CROSS JOIN tri
""",
    doc="triangle census of the MinHash-LSH duplicate-candidate graph "
        "(operators/graph.triangle_stats): nodes/edges/wedges/triangles "
        "+ the global clustering coefficient as exact integer ppm — "
        "the graph-structural quality signal on the dedup pair output "
        "(true duplicate groups are cliques → high clustering; wedges "
        "that never close say the banding stitches unrelated docs "
        "through boilerplate hubs). Canonical a<b edges make the "
        "ordered 3-join count each triangle exactly once; two hash "
        "joins over the EDGE relation (degree-bounded by the LSH "
        "bucket cap), one degree agg, integer end-to-end",
    tags=("llm", "dedup", "graph", "quality"),
)
def q_dup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidates(docs, num_perms=_NUM_PERMS, bands=_BANDS)
    return triangle_stats(pairs)
