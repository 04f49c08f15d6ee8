"""Round-10 queries, batch eight: URL-vs-content dedup agreement (the
cross-check that tells a crawl pipeline whether URL-level dedup is
SAFE — template pages share a canonical URL with different content;
mirror pages share content under different URLs) and the APPLY side of
the learned BPE merges (train -> apply, closing the loop opened by
tokens_bpe_train_merges).

The agreement report is oracle-checked (counts + md5 identity); the
BPE apply is rows-only (the merge table comes from the iterative
training loop) and pinned against a pure-Python apply in
tests/test_round10_ops.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round10 import _URL_DUCK, _URL_SPARK, _canon_sql
from dmds_spark.sources.registry import load_table


@register(
    "web_dedup_method_agreement",
    f"""
    WITH u AS (
      SELECT doc_id, md5(text) AS h, {_URL_DUCK} AS url FROM documents
    ), c AS (
      SELECT doc_id, h, {_canon_sql('duck')} AS canon_url FROM u
    ), g AS (
      SELECT canon_url,
             COUNT(*) AS n_docs,
             COUNT(DISTINCT h) AS n_texts
      FROM c GROUP BY canon_url
    )
    SELECT CASE WHEN n_docs = 1 THEN 'unique_url'
                WHEN n_texts = 1 THEN 'url_dup_same_text'
                ELSE 'url_dup_text_differs' END AS agreement,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(n_docs - n_texts) AS BIGINT) AS n_redundant_fetches
    FROM g GROUP BY 1
    """,
)
def web_dedup_method_agreement(spark, sf_dir):
    """URL-vs-content dedup agreement: group documents by canonical
    URL and split the groups into unique URLs, URL-duplicates whose
    content digests also agree (URL dedup is SAFE — dropping
    non-keepers loses nothing), and URL-duplicates whose content
    DIFFERS (template/rotating pages — URL dedup would silently drop
    distinct content; these need content-level dedup instead).
    ``n_redundant_fetches`` counts the fetches URL dedup could have
    skipped without content loss — the crawl-budget number this
    report exists to price. On this corpus every URL-dup group
    differs in content (doc texts are unique), which is exactly the
    template-page regime the report is built to expose.

    Shape at scale: one projection (digest + canonicalizer, both
    codegen), one (canon_url) aggregate, one 3-row rollup. The same
    two-exchange shape as web_url_canonicalize with the digest
    carried alongside."""
    u = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h"), F.expr(_URL_SPARK).alias("url")
    )
    c = u.select("doc_id", "h", F.expr(_canon_sql("spark")).alias("canon_url"))
    g = c.groupBy("canon_url").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_texts"),
    )
    agreement = (
        F.when(F.col("n_docs") == 1, "unique_url")
        .when(F.col("n_texts") == 1, "url_dup_same_text")
        .otherwise("url_dup_text_differs")
    )
    return g.select(
        agreement.alias("agreement"),
        "n_docs",
        "n_texts",
    ).groupBy("agreement").agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum(F.col("n_docs") - F.col("n_texts"))
        .cast("bigint")
        .alias("n_redundant_fetches"),
    )


def bpe_apply_merges(docs, merges, text_col: str = "text"):
    """Apply a learned merge table (ordered (a, b) pairs) to every
    document's words: each merge is one greedy left-to-right codegen
    fold over the word's symbol array — the same fold (and the same
    quote/backslash escaping) the trainer uses, so train and apply
    share one semantics. Returns (doc_id, n_words, n_symbols) where
    n_symbols counts post-merge symbols across the document: the
    tokens-per-word compression the merge table buys.

    Shape at scale: per-row array folds only — a pure projection, no
    shuffle beyond the final per-doc aggregate; the merge table is a
    driver-side list (vocabulary-scale, thousands of entries in
    production), compiled into the plan."""

    def esc(t: str) -> str:
        return t.replace("\\", "\\\\").replace("'", "\\'")

    from dmds_spark.operators.parallel import ensure_parallelism

    # the merge folds below are interpreted array-HOF work per WORD;
    # inherit-from-scan parallelism (one partition at test scale)
    # would run them all on one core (guide §2.6)
    words = ensure_parallelism(docs.select("doc_id", text_col)).select(
        "doc_id", F.explode(F.split(text_col, " ")).alias("w")
    ).filter(F.col("w") != "")
    sym = words.select("doc_id", F.expr("split(w, '')").alias("toks"))
    for a, b in merges:
        a_s, b_s, m_s = esc(a), esc(b), esc(a + b)
        fold = (
            "aggregate(toks, CAST(array() AS ARRAY<STRING>), (acc, x) ->"
            f" CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a_s}'"
            f" AND x = '{b_s}'"
            f" THEN concat(slice(acc, 1, size(acc)-1), array('{m_s}'))"
            " ELSE concat(acc, array(x)) END)"
        )
        sym = sym.select("doc_id", F.expr(fold).alias("toks"))
    return sym.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.size("toks")).cast("bigint").alias("n_symbols"),
    )


@register("tokens_bpe_apply_learned", None)
def tokens_bpe_apply_learned(spark, sf_dir):
    """Train-then-apply BPE round trip: learn the top-5 merges on the
    corpus (tokens_bpe_train_merges), apply them to every document,
    and report per-doc (word count, post-merge symbol count) — the
    compression the learned table buys, measured on the data it was
    trained on. Rows-only by design (the merge table is the output of
    the iterative trainer); tests pin the distributed apply against a
    pure-Python apply of the same merges."""
    from dmds_spark.queries.round10c import bpe_train_merges

    docs = load_table(spark, sf_dir, "documents")
    merges = [
        (r["a"], r["b"])
        for r in bpe_train_merges(docs).collect()
    ]
    return bpe_apply_merges(docs, merges)
