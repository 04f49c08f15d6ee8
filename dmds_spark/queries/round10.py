"""Round-10 queries, batch one: the WEB-CURATION family a crawl-fed
training-data pipeline runs before any text-level dedup — URL
canonicalization + URL-level dedup, registrable-domain profiling, a
domain blocklist gate, and RefinedWeb/CCNet-style LINE-level
boilerplate removal (the "this exact line appears in hundreds of pages
of the same site" nav/footer cut that document-level MinHash cannot
see).

The synthetic corpus has no URL column and no newlines, so both
engines DERIVE the same inputs deterministically: a per-doc URL is
synthesized from (source, lang, doc_id) with the full mess the
canonicalizer must fix (scheme case, www, trailing slash, utm_*
params, fragments), and "lines" are fixed 10-word windows of the
token stream, with two known boilerplate header lines injected at
aligned positions on a doc_id schedule. The operators under test are
the canonicalizer and the line-dedup rewrite — the synthesis is just
shared input. All five queries are oracle-checked (exact counts, md5
fingerprints, one final IEEE division for each ratio).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# shared URL synthesis + canonicalization (generated once, rendered per
# engine: only cast spelling and array-function names differ)
# ---------------------------------------------------------------------------

# One messy URL per doc. Collision design: docs sharing
# (source, lang, doc_id % 40) canonicalize to the SAME url once scheme
# case, www, the trailing slash, utm_* params and the fragment are
# normalized away — so URL-level dedup has real groups to collapse.
_URL_TMPL = (
    "(CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END"
    " || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END"
    " || upper(source) || '-Site.'"
    " || CASE lang WHEN 'en' THEN 'com' WHEN 'de' THEN 'de'"
    "             WHEN 'fr' THEN 'fr' WHEN 'es' THEN 'org'"
    "             ELSE 'net' END"
    " || '/' || lang || '/Page/' || CAST(doc_id % 40 AS {S})"
    " || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END"
    " || '?id=' || CAST(doc_id % 40 AS {S})"
    " || '&utm_source=feed'"
    " || CASE WHEN doc_id % 2 = 0 THEN '&utm_campaign=c' ||"
    " CAST(doc_id % 7 AS {S}) ELSE '' END"
    " || '&ref=' || source"
    " || CASE WHEN doc_id % 5 = 0 THEN '#sec-' || CAST(doc_id AS {S})"
    " ELSE '' END)"
)
_URL_SPARK = _URL_TMPL.format(S="STRING")
_URL_DUCK = _URL_TMPL.format(S="VARCHAR")

# Canonicalization contract (applied to column {U}):
#   1. drop the fragment;    2. lowercase the host, strip leading www.;
#   3. collapse trailing slashes in the path (empty path -> '/');
#   4. drop utm_* query params, preserving the order of the rest;
#   5. force the https scheme.
# Path case is PRESERVED (RFC 3986: path is case-sensitive, host is
# not). Pure regexp_extract/regexp_replace + one array filter — stays
# in whole-stage codegen on the Spark side, no UDF.
_NOFRAG = "regexp_replace({U}, '#.*$', '')"
_HOST = (
    "regexp_replace(lower(regexp_extract(" + _NOFRAG
    + ", '^[A-Za-z]+://([^/?#]+)', 1)), '^www[.]', '')"
)
_PATH = (
    "regexp_replace(regexp_extract(" + _NOFRAG
    + ", '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/+$', '')"
)
_QKEPT_TMPL = (
    "{AJOIN}({FILT}({SPLIT}(regexp_extract(" + _NOFRAG
    + ", '[?]([^#]*)', 1), '&'), x -> NOT {SW}(x, 'utm_')), '&')"
)


def _canon_sql(engine: str) -> str:
    """The canonical-url expression over a column named ``url``."""
    if engine == "spark":
        q = _QKEPT_TMPL.format(
            U="url", AJOIN="array_join", FILT="filter",
            SPLIT="split", SW="startswith",
        )
    else:
        q = _QKEPT_TMPL.format(
            U="url", AJOIN="array_to_string", FILT="list_filter",
            SPLIT="string_split", SW="starts_with",
        )
    host = _HOST.format(U="url")
    path = _PATH.format(U="url")
    return (
        f"'https://' || {host} ||"
        f" CASE WHEN {path} = '' THEN '/' ELSE {path} END ||"
        f" CASE WHEN {q} = '' THEN '' ELSE '?' || {q} END"
    )


_DOMAIN_SQL = (
    "regexp_extract(" + _HOST.format(U="url") + ", '([^.]+[.][^.]+)$', 1)"
)


@register(
    "web_url_canonicalize",
    f"""
    WITH u AS (SELECT doc_id, {_URL_DUCK} AS url FROM documents),
    c AS (SELECT doc_id, url, {_canon_sql('duck')} AS canon_url FROM u)
    SELECT canon_url,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS keeper_doc_id,
           CAST(SUM(CASE WHEN url LIKE '%#%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_had_fragment
    FROM c GROUP BY canon_url
    """,
)
def web_url_canonicalize(spark, sf_dir):
    """URL canonicalization + URL-level dedup: normalize scheme case,
    www, trailing slash, utm_* tracking params and fragments, then
    group by the canonical URL — the keep-first collapse every crawl
    pipeline runs before fetch-level or text-level dedup (the same
    page crawled via 6 tracking-link variants is one document).

    Shape at scale: the canonicalizer is a single codegen projection
    (regexp + one array filter, no UDF, no shuffle); the dedup is one
    hash aggregate keyed on the canonical URL — high cardinality, no
    skew pole. At 100 TB this is exactly the CCNet/RefinedWeb URL
    pass: a scan-projection plus one exchange."""
    u = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_URL_SPARK).alias("url")
    )
    c = u.select("doc_id", "url", F.expr(_canon_sql("spark")).alias("canon_url"))
    return c.groupBy("canon_url").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("keeper_doc_id"),
        F.sum(F.col("url").contains("#").cast("int"))
        .cast("bigint")
        .alias("n_had_fragment"),
    )


@register(
    "web_domain_stats",
    f"""
    WITH u AS (
      SELECT doc_id, lang, n_chars, {_URL_DUCK} AS url FROM documents
    ), d AS (SELECT doc_id, lang, n_chars, {_DOMAIN_SQL} AS domain FROM u)
    SELECT domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS DOUBLE)
             AS mean_chars
    FROM d GROUP BY domain
    """,
)
def web_domain_stats(spark, sf_dir):
    """Registrable-domain profile: strip subdomains (last two host
    labels — the public-suffix-list lookup reduced to its mechanical
    core) and aggregate per domain. The per-domain doc count / volume
    / language mix is the first thing a crawl-curation pass ranks:
    domain-level caps, domain quality priors, and per-domain dedup
    scopes all key on exactly this projection.

    One codegen projection + one hash aggregate; domains are the
    canonical heavy-hitter key, so at 100 TB this aggregate is where
    AQE skew handling (or a two-level pre-agg) earns its keep — the
    partial aggregate absorbs the hot domains map-side."""
    u = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars", F.expr(_URL_SPARK).alias("url")
    )
    d = u.select("doc_id", "lang", "n_chars", F.expr(_DOMAIN_SQL).alias("domain"))
    return d.groupBy("domain").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count("*"))
        .cast("double")
        .alias("mean_chars"),
    )


# Exact-match domains plus one TLD suffix class. A literal IN list /
# endswith keeps the sf-test deterministic; the docstring states the
# scale form (broadcast semi-join for MB-scale lists).
_BLOCK_EXACT = ("src0-site.com", "src1-site.de", "src3-site.org")
_BLOCK_SUFFIX = ".net"


@register(
    "web_blocklist_filter",
    f"""
    WITH u AS (
      SELECT doc_id, source, {_URL_DUCK} AS url FROM documents
    ), d AS (SELECT doc_id, source, {_DOMAIN_SQL} AS domain FROM u),
    f AS (
      SELECT source,
             CASE WHEN domain IN {_BLOCK_EXACT!r}
                  OR domain LIKE '%{_BLOCK_SUFFIX}' THEN 1 ELSE 0 END AS b
      FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b) AS BIGINT) AS n_blocked,
           CAST(COUNT(*) - SUM(b) AS BIGINT) AS n_kept
    FROM f GROUP BY source
    """,
)
def web_blocklist_filter(spark, sf_dir):
    """Domain blocklist gate: drop documents whose registrable domain
    is on an exact blocklist or under a blocked TLD suffix, reporting
    the per-source attrition. Here the list is a plan literal (IN +
    endswith — a pure scan filter, no shuffle); a production
    million-entry blocklist becomes a BROADCAST left-anti join on the
    domain, and suffix classes become a range join on the REVERSED
    domain (suffix match = prefix range on the reversal) — both stay
    driver-light and scan-shaped, which is the property that matters
    at 100 TB."""
    u = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_URL_SPARK).alias("url")
    )
    d = u.select("doc_id", "source", F.expr(_DOMAIN_SQL).alias("domain"))
    b = (
        F.col("domain").isin(*_BLOCK_EXACT)
        | F.col("domain").endswith(_BLOCK_SUFFIX)
    ).cast("int")
    return d.select("source", b.alias("b")).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("b").cast("bigint").alias("n_blocked"),
        (F.count("*") - F.sum("b")).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# line-level boilerplate dedup (RefinedWeb/CCNet line dedup, 10-word
# windows standing in for newline-delimited lines)
# ---------------------------------------------------------------------------

_LINE_W = 10
_BOILER_MIN_DOCS = 3
# two aligned 10-word header "lines" injected on a doc_id schedule so
# the corpus has real cross-doc boilerplate (the word-soup body never
# repeats a 10-gram); misaligned tails are deliberately NOT injected —
# line dedup only catches aligned repeats, which the docstrings state.
_H1 = "nav home about contact login search help terms privacy copyright"
_H2 = "subscribe newsletter footer sitemap rss social share print email legal"
_AUG_SQL = (
    f"CASE WHEN doc_id % 5 <= 1 THEN '{_H1} {_H2} ' || text"
    f" WHEN doc_id % 5 = 2 THEN '{_H1} ' || text ELSE text END"
)

_LINES_DUCK = f"""
    WITH aug AS (
      SELECT doc_id, source,
             string_split({_AUG_SQL}, ' ') AS toks
      FROM documents
    ), l0 AS (
      SELECT doc_id, source,
             UNNEST([{{'li': i, 'line': array_to_string(
                        list_slice(toks, (i-1)*{_LINE_W}+1, (i-1)*{_LINE_W}+{_LINE_W}), ' ')}}
                     for i in range(1, CAST(ceil(len(toks)/{_LINE_W}.0) AS BIGINT)+1)]) AS u
      FROM aug
    ), lines AS (
      SELECT doc_id, source, u.li AS li, u.line AS line FROM l0
    ), xline AS (
      SELECT source, line, COUNT(DISTINCT doc_id) AS n_docs,
             COUNT(*) AS n_occ
      FROM lines GROUP BY source, line
    )
"""


def _lines(spark, sf_dir):
    """Every (doc_id, source, li, line): the doc's token stream cut
    into aligned 10-word windows, with the boilerplate headers
    injected. Pure array ops (split/sequence/slice/array_join) — one
    codegen projection, token-stream sized."""
    aug = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.split(F.expr(_AUG_SQL), " ").alias("toks")
    )
    lines = aug.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, CAST(ceil(size(toks)/{_LINE_W}.0) AS INT)),"
                f" i -> struct(i AS li, array_join("
                f"slice(toks, (i-1)*{_LINE_W}+1, {_LINE_W}), ' ') AS line))"
            )
        ).alias("u"),
    )
    return lines.select("doc_id", "source", "u.li", "u.line")


def _xline(lines):
    """Per (source, line) reach: distinct docs + occurrences. Line
    dedup is scoped per source (per site, in crawl terms) — a nav
    line is boilerplate WITHIN its site, not across the web."""
    return lines.groupBy("source", "line").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_occ"),
    )


@register(
    "web_line_boilerplate_topk",
    _LINES_DUCK
    + f"""
    SELECT source, line, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_occ AS BIGINT) AS n_occ
    FROM xline WHERE n_docs >= {_BOILER_MIN_DOCS}
    ORDER BY n_docs DESC, n_occ DESC, source, line LIMIT 20
    """,
)
def web_line_boilerplate_topk(spark, sf_dir):
    """Top boilerplate lines per source: lines appearing verbatim in
    >= {_BOILER_MIN_DOCS} distinct documents of the same source,
    ranked by doc reach — the nav/footer/header chrome line-level
    dedup removes first. Total order (reach, occurrences, source,
    line) so top-k is deterministic.

    Shape at scale: one explode to the line stream, one hash
    aggregate keyed (source, line) — high cardinality, partial agg
    absorbs the repeats map-side — then TakeOrdered 20. No joins."""
    x = _xline(_lines(spark, sf_dir))
    return (
        x.filter(F.col("n_docs") >= _BOILER_MIN_DOCS)
        .select(
            "source",
            "line",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_occ").cast("bigint").alias("n_occ"),
        )
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occ").desc(), "source", "line"
        )
        .limit(20)
    )


@register(
    "web_line_dedup_rewrite",
    _LINES_DUCK
    + f"""
    , marked AS (
      SELECT l.doc_id, l.li, l.line,
             (x.n_docs >= {_BOILER_MIN_DOCS}) AS b
      FROM lines l JOIN xline x ON l.source = x.source AND l.line = x.line
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           md5(coalesce(
             string_agg(line, ' | ' ORDER BY li) FILTER (WHERE NOT b),
             '')) AS kept_fp
    FROM marked GROUP BY doc_id
    """,
)
def web_line_dedup_rewrite(spark, sf_dir):
    """The line-dedup REWRITE: drop every line whose (source, line)
    reach is >= {_BOILER_MIN_DOCS} docs and emit, per document, the
    line budget (total/dropped) plus an md5 fingerprint of the kept
    lines in original order — the fingerprint pins that both engines
    reconstruct the identical post-dedup document, not just identical
    counts. Misaligned repeats (a header glued mid-stream) are out of
    scope by construction: line dedup only sees aligned windows, which
    is exactly its production blind spot vs span dedup
    (dedup_repeated_ngram_spans covers the unaligned case).

    Shape at scale: line stream -> one (source, line) aggregate ->
    re-join the stats onto the stream (both sides of the join are
    partitioned by the same key, so AQE plans a co-located SMJ) ->
    one per-doc aggregate. Two exchanges of the line stream total;
    no driver-side state."""
    lines = _lines(spark, sf_dir)
    x = _xline(lines)
    marked = lines.join(x, ["source", "line"]).select(
        "doc_id",
        "li",
        "line",
        (F.col("n_docs") >= _BOILER_MIN_DOCS).alias("b"),
    )
    kept = F.when(~F.col("b"), F.struct("li", "line"))
    return marked.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum(F.col("b").cast("int")).cast("bigint").alias("n_dropped"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept)), lambda s: s["line"]
                ),
                " | ",
            )
        ).alias("kept_fp"),
    )
