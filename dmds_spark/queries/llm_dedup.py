"""Near-duplicate detection + text-analysis queries (north star,
SURVEY.md §2b last row), every one oracle-checked in DuckDB.

The trick that makes MinHash/SimHash/LSH oracle-checkable: the "random"
hash family is ``h_j(x) = md5(j || ':' || x)`` and signatures are
md5-STRING minima (string MIN is the same total order in both engines),
so the entire pipeline — shingling, signatures, banding, candidate
join, estimate — is bit-deterministic and engine-independent. The SQL
side is generated here from the same parameters as the Spark side.

ANN hyperplanes are Python-``hashlib.md5``-derived literal vectors
(same digest function as both engines' ``md5``), embedded as constants
in both plans.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from dmds_spark.operators.dedup import (
    dedup_minhash,
    dedup_minhash_keep_first,
    jaccard_verify_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    shared_shingles,
    simhash_pairs,
)
from dmds_spark.functions.text import (
    BPE_ISH_PATTERN,
    LANG_STOPWORDS,
    bpe_ish_tokens,
    lang_id,
    rolling_fingerprint,
    words,
)
from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_table

NUM_HASHES = 16
BANDS = 4
ROWS = NUM_HASHES // BANDS
K_SHINGLE = 3


# ---------------------------------------------------------------------------
# shared SQL fragments (generated from the same parameters as the Spark side)
# ---------------------------------------------------------------------------

SHINGLES_SQL = (
    "[array_to_string(list_slice(string_split(text, ' '), i, i + "
    f"{K_SHINGLE - 1}), ' ') "
    "for i in range(1, greatest(len(string_split(text, ' ')) - "
    f"{K_SHINGLE - 2}, 1))]"
)

# one md5 per shingle; slot j = digest rotated left j hex chars
# (mirrors operators/dedup.py minhash_signatures exactly)
SIG_SQL = (
    "[ list_min([substr(md5(s), j + 1, 32 - j) || substr(md5(s), 1, j) "
    "for s in shingles]) "
    f"for j in range(0, {NUM_HASHES}) ]"
)

BAND_SQL = " , ".join(
    f"CAST({b} AS VARCHAR) || ':' || md5("
    + " || '|' || ".join(f"sig[{b * ROWS + r + 1}]" for r in range(ROWS))
    + ")"
    for b in range(BANDS)
)

EST_SQL = (
    "CAST(("
    + " + ".join(
        f"CASE WHEN sig_a[{j + 1}] = sig_b[{j + 1}] THEN 1 ELSE 0 END"
        for j in range(NUM_HASHES)
    )
    + f") AS DOUBLE) / {NUM_HASHES}"
)

CAND_CTE = f"""
WITH sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS shingles FROM documents
), sig AS (
  SELECT doc_id, {SIG_SQL} AS sig FROM sh WHERE len(shingles) > 0
), banded AS (
  SELECT doc_id, sig, UNNEST([{BAND_SQL}]) AS band_key FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b ON a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
)
"""


@register(
    "dedup_minhash_pairs",
    CAND_CTE
    + f"""
    SELECT id_a, id_b, {EST_SQL} AS jaccard_est
    FROM cand WHERE {EST_SQL} >= 0.5
    """,
)
def dedup_minhash_pairs(spark, sf_dir):
    """MinHash+LSH near-dup pairs: shingle -> 16 md5-min signatures ->
    4 bands -> bucket join -> signature-agreement estimate >= 0.5.
    One shuffle (the band-key join) — the web-scale near-dup shape."""
    return dedup_minhash(
        load_table(spark, sf_dir, "documents"),
        "text", "doc_id", NUM_HASHES, BANDS, 0.5,
    )


@register(
    "dedup_minhash_keep_first",
    CAND_CTE
    + f"""
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (
      SELECT id_b FROM cand WHERE {EST_SQL} >= 0.5
    )
    """,
)
def dedup_minhash_keep_first_q(spark, sf_dir):
    """Keep-canonical near-dedup: drop docs that near-duplicate a
    lower-id doc."""
    return dedup_minhash_keep_first(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        num_hashes=NUM_HASHES, bands=BANDS, threshold=0.5,
    ).select("doc_id")


@register(
    "dedup_jaccard_verify",
    CAND_CTE
    + """
    SELECT id_a, id_b,
           CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
             / greatest(len(list_distinct(list_concat(sa.shd, sb.shd))), 1) AS jaccard
    FROM cand
    JOIN (SELECT doc_id, list_distinct(shingles) AS shd FROM sh) sa ON sa.doc_id = id_a
    JOIN (SELECT doc_id, list_distinct(shingles) AS shd FROM sh) sb ON sb.doc_id = id_b
    WHERE CAST(len(list_intersect(sa.shd, sb.shd)) AS DOUBLE)
             / greatest(len(list_distinct(list_concat(sa.shd, sb.shd))), 1) >= 0.5
    """,
)
def dedup_jaccard_verify(spark, sf_dir):
    """Exact n-gram Jaccard verify stage over the LSH candidates —
    the two-stage (probe then verify) pipeline at full fidelity.

    The corpus is shingled ONCE (persisted distinct rows shared by the
    signature stage and all three verify consumers — min over a
    doc's distinct shingles equals min over its raw k-gram stream, so
    the signatures are bit-identical; guide §2.4 remove duplicate
    work)."""
    docs = load_table(spark, sf_dir, "documents")
    srows, sigs = shared_shingles(
        docs, "text", "doc_id", K_SHINGLE, NUM_HASHES
    )
    cand = minhash_lsh_candidates(sigs, "doc_id", NUM_HASHES, BANDS).select(
        "id_a", "id_b"
    )
    return jaccard_verify_pairs(
        docs, cand, "text", "doc_id", K_SHINGLE, 0.5, shingle_rows=srows
    )


SIMHASH_BITS = 32  # one bit per md5 hex digit (top bit of the digit)
SIMHASH_MAX_HAMMING = 3
SIMHASH_BANDS = SIMHASH_MAX_HAMMING + 1  # pigeonhole: >=1 band agrees
SIMHASH_BAND_W = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_SQL = (
    "array_to_string([ CASE WHEN list_sum([CASE WHEN instr('0123456789abcdef', "
    "md5(tk)[b+1:b+1]) >= 9 THEN 1 ELSE -1 END for tk in toks]) >= 0 "
    f"THEN '1' ELSE '0' END for b in range(0, {SIMHASH_BITS}) ], '')"
)
HAMMING_SQL = " + ".join(
    f"CASE WHEN substring(sh_a, {i + 1}, 1) <> substring(sh_b, {i + 1}, 1) "
    "THEN 1 ELSE 0 END"
    for i in range(SIMHASH_BITS)
)
SIMHASH_BAND_SQL = ", ".join(
    f"'{b}:' || substring(simhash, {b * SIMHASH_BAND_W + 1}, {SIMHASH_BAND_W})"
    for b in range(SIMHASH_BANDS)
)


@register(
    "dedup_simhash_pairs",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    shh AS (SELECT doc_id, {SIMHASH_SQL} AS simhash FROM tok),
    blocked AS (SELECT doc_id, simhash, UNNEST([{SIMHASH_BAND_SQL}]) AS block FROM shh)
    SELECT id_a, id_b, CAST(({HAMMING_SQL}) AS BIGINT) AS hamming FROM (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.simhash AS sh_a, b.simhash AS sh_b
      FROM blocked a JOIN blocked b ON a.block = b.block AND a.doc_id < b.doc_id
    ) WHERE ({HAMMING_SQL}) <= {SIMHASH_MAX_HAMMING}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs: 32-bit majority-vote signature (one bit
    per md5 hex digit), pigeonhole band blocking (4 bands of 8 bits —
    any pair within hamming 3 agrees exactly on >= 1 band, so recall is
    EXACT), hamming <= 3 verify. 16 bits saturates on a
    shared-vocabulary corpus; 32 bits keeps the pair set selective."""
    return simhash_pairs(
        load_table(spark, sf_dir, "documents"), "text", "doc_id",
        num_bits=SIMHASH_BITS, max_hamming=SIMHASH_MAX_HAMMING,
        bands=SIMHASH_BANDS,
    )


# ---------------------------------------------------------------------------
# text analysis: language ID, BPE-ish token count, rolling fingerprint
# ---------------------------------------------------------------------------

_LANG_SCORE_SQL = {
    code: (
        "CAST(len(list_filter(toks, tk -> list_contains("
        + "[" + ", ".join(f"'{w}'" for w in sw) + "]"
        + ", lower(tk)))) AS DOUBLE) / greatest(len(toks), 1)"
    )
    for code, sw in sorted(LANG_STOPWORDS.items())
}
_BEST_SQL = "greatest(" + ", ".join(_LANG_SCORE_SQL.values()) + ")"
_LANG_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN {_BEST_SQL} > 0 AND {score} = {_BEST_SQL} THEN '{code}'"
        for code, score in _LANG_SCORE_SQL.items()
    )
    + " ELSE 'und' END"
)


@register(
    "text_lang_id",
    f"""
    WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    SELECT doc_id, {_LANG_CASE_SQL} AS lang_guess FROM tok
    """,
)
def text_lang_id(spark, sf_dir):
    """Deterministic stopword-profile language ID (argmax hit rate,
    alphabetic tie-break, 'und' when nothing matches)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", lang_id(words("text")).alias("lang_guess"))


@register(
    "text_bpe_token_count",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens
    FROM documents
    """,
)
def text_bpe_token_count(spark, sf_dir):
    """Token counting with a BPE-style pretokenizer regex vs whitespace
    — the billing unit of every LLM pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(bpe_ish_tokens("text")).cast("bigint").alias("n_bpe_tokens"),
        F.size(words("text")).cast("bigint").alias("n_ws_tokens"),
    )


NGRAM = 8


@register(
    "text_rolling_fingerprint",
    f"""
    WITH fp AS (
      SELECT doc_id,
             CASE WHEN length(text) < {NGRAM} THEN NULL
                  ELSE list_min([md5(substring(text, i, {NGRAM}))
                        for i in range(1, length(text) - {NGRAM - 2})])
             END AS fp
      FROM documents
    )
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n, CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM fp WHERE fp IS NOT NULL GROUP BY fp
    """,
)
def text_rolling_fingerprint(spark, sf_dir):
    """Rolling-window fingerprint (min-md5 over char 8-grams, the
    select-minimum flavor of winnowing): fingerprint groups = near-dup
    clusters under small edits."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", rolling_fingerprint("text", NGRAM).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
    )


# ---------------------------------------------------------------------------
# ANN: LSH-bucketed similarity search (the scale path for similarity_cosine_topk)
# ---------------------------------------------------------------------------

ANN_PLANES = 4
EMB_DIM = 64


def _hyperplane(h: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from md5 — identical
    constant in both engines' plans."""
    return [
        int(hashlib.md5(f"{h}:{i}".encode()).hexdigest()[0], 16) - 7.5
        for i in range(EMB_DIM)
    ]


def _planes_sql() -> list[str]:
    return [
        "[" + ", ".join(str(v) for v in _hyperplane(h)) + "]"
        for h in range(ANN_PLANES)
    ]


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {p}) > 0 "
    "THEN '1' ELSE '0' END)"
    for p in _planes_sql()
)

_COS_SQL = "list_cosine_similarity(e.embedding, q.embedding)"


@register(
    "similarity_ann_lsh_topk",
    f"""
    WITH b AS (SELECT vec_id, embedding, {_BUCKET_SQL} AS bucket FROM embeddings),
    q AS (SELECT * FROM b WHERE vec_id = 0)
    SELECT e.vec_id,
           CAST(ROUND(CAST({_COS_SQL} AS DECIMAL(18,9)), 4) AS DOUBLE) AS sim
    FROM b e, q
    WHERE e.bucket = q.bucket AND e.vec_id <> 0
    ORDER BY {_COS_SQL} DESC, e.vec_id
    LIMIT 10
    """,
)
def similarity_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN top-k: sign-of-projection onto 4 deterministic
    hyperplanes -> 16 buckets -> exact cosine only within the query's
    bucket. At 100 TB the bucket column becomes the partition key and
    each query touches 1/16th of the data; the hyperplane constants are
    broadcast literals."""
    e = load_table(spark, sf_dir, "embeddings")

    def dot_lit(vec_col, plane):
        return F.aggregate(
            F.zip_with(
                vec_col,
                F.array(*[F.lit(v) for v in plane]),
                lambda x, y: x.cast("double") * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    bucket = F.concat(
        *[
            F.when(dot_lit(F.col("embedding"), _hyperplane(h)) > 0, "1").otherwise("0")
            for h in range(ANN_PLANES)
        ]
    )
    b = e.select("vec_id", "embedding", bucket.alias("bucket"))
    q = b.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"), F.col("bucket").alias("qbucket")
    )

    def dot(a, c):
        return F.aggregate(
            F.zip_with(a, c, lambda x, y: x.cast("double") * y.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    joined = b.filter(F.col("vec_id") != 0).join(
        F.broadcast(q), F.col("bucket") == F.col("qbucket")
    )
    sim = dot(F.col("embedding"), F.col("qv")) / (
        F.sqrt(dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(dot(F.col("qv"), F.col("qv")))
    )
    return (
        joined.withColumn("sim_exact", sim)
        .orderBy(F.col("sim_exact").desc(), F.col("vec_id"))
        .limit(10)
        .select(
            "vec_id",
            F.round(F.col("sim_exact").cast("decimal(18,9)"), 4)
            .cast("double")
            .alias("sim"),
        )
    )


# ---------------------------------------------------------------------------
# near-dup clustering: connected components over the LSH pair graph
# ---------------------------------------------------------------------------

_CLUSTER_SQL = (
    CAND_CTE.replace("WITH sh AS", "WITH RECURSIVE sh AS", 1)
    + f""", edges AS (
  SELECT id_a, id_b FROM cand WHERE {EST_SQL} >= 0.5
), und AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION
  SELECT id_b AS u, id_a AS v FROM edges
), reach(u, v) AS (
  SELECT u, v FROM und
  UNION
  SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u
)
SELECT d.doc_id, COALESCE(c.cid, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN (
  SELECT u, LEAST(u, MIN(v)) AS cid FROM reach GROUP BY u
) c ON d.doc_id = c.u
"""
)


@register("dedup_cluster_assign", _CLUSTER_SQL)
def dedup_cluster_assign(spark, sf_dir):
    """Final stage of the web-scale dedup pipeline: group near-dup
    pairs into clusters (connected components, cluster id = min doc id
    in the component) so each cluster keeps one canonical doc. Spark
    side: iterative min-label propagation, one shuffle join + min-agg
    per round, lineage cut per round (operators/dedup.py
    connected_components). Oracle: recursive-CTE transitive closure —
    exact same components."""
    from dmds_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup_minhash(docs, "text", "doc_id", NUM_HASHES, BANDS, 0.5)
    return connected_components(
        pairs, "id_a", "id_b", vertices=docs, id_col="doc_id"
    )


# ---------------------------------------------------------------------------
# end-to-end corpus curation: lang filter -> quality gate -> exact dedup
# -> near-dup keep-first
# ---------------------------------------------------------------------------

_CURATION_SQL = f"""
WITH tok0 AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), lang AS (
  SELECT doc_id, text, toks, {_LANG_CASE_SQL} AS lang_guess FROM tok0
), quality AS (
  SELECT doc_id, text, len(toks) AS n_tokens FROM lang
  WHERE lang_guess = 'en'
    AND length(text) BETWEEN 100 AND 20000
    AND len(toks) >= 20
), exact AS (
  SELECT doc_id, text, n_tokens,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM quality
), kept AS (
  SELECT doc_id, text, n_tokens FROM exact WHERE rn = 1
), sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS shingles FROM kept
), sig AS (
  SELECT doc_id, {SIG_SQL} AS sig FROM sh WHERE len(shingles) > 0
), banded AS (
  SELECT doc_id, sig, UNNEST([{BAND_SQL}]) AS band_key FROM sig
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.sig AS sig_a, b.sig AS sig_b
  FROM banded a JOIN banded b ON a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
), doomed AS (
  SELECT DISTINCT id_b FROM cand WHERE {EST_SQL} >= 0.5
)
SELECT k.doc_id, CAST(k.n_tokens AS BIGINT) AS n_tokens
FROM kept k LEFT JOIN doomed d ON k.doc_id = d.id_b
WHERE d.id_b IS NULL
"""


@register("pipeline_curation", _CURATION_SQL)
def pipeline_curation(spark, sf_dir):
    """The flagship training-data curation pipeline, end to end in one
    plan: language ID (keep 'en') -> quality gate (length in
    [100, 20000], >= 20 tokens) -> exact dedup keep-first -> MinHash
    near-dup keep-first (threshold 0.5). Returns surviving doc_ids
    with token counts.

    At 100 TB the filters are narrow scans (no shuffle until the exact
    dedup's hash exchange); the LSH stage runs on the already-curated
    subset — the ordering that minimizes bytes through the expensive
    stage. Every stage's hash is md5, so the whole composite is
    oracle-checkable."""
    from dmds_spark.operators.dedup import dedup_exact as dedup_exact_op

    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    quality = docs.filter(
        (lang_id(toks) == "en")
        & F.length("text").between(100, 20000)
        & (F.size(toks) >= 20)
    )
    # materialize the curated subset ONCE before the LSH stage: three
    # downstream consumers (signature job, keep-first anti-join, final
    # projection) would each re-run the lang/quality/window chain
    # otherwise (measured 34% off the composite at sf0.1). Production
    # shape: the curated set is a written intermediate table.
    kept = dedup_exact_op(quality, "text", "doc_id").transform(materialize)
    survived = dedup_minhash_keep_first(
        kept, "text", "doc_id",
        num_hashes=NUM_HASHES, bands=BANDS, threshold=0.5,
    )
    return survived.select(
        "doc_id", F.size(words("text")).cast("bigint").alias("n_tokens")
    )
