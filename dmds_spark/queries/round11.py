"""Round-11 queries, batch one: HTML->text extraction — the missing
FIRST stage of the web-curation chain (crawl bytes -> clean text),
before URL canonicalization (round10.py) and line-level boilerplate
removal ever see a document.

The synthetic corpus stores already-clean text, so both engines
SYNTHESIZE the same raw HTML per document deterministically — full
head (title/style/script with embedded '<', '>' and quotes), nav
list, heading with entities, one or two text blocks, inline <b> tags
and a footer — and the operator under test is the extractor: strip
script/style subtrees, convert block-closing tags to line breaks,
strip remaining tags, decode the core entity set, and normalize
whitespace. That is trafilatura's mechanical core reduced to the
RE2-safe regex subset, so DuckDB can oracle every step (reference
ingest analogue: the reference's ChunkFromIoIter turns raw stored
bytes into rows, src/world/iter.rs:311-511 — here raw markup turns
into model-ready text).

Regex discipline (oracle-parity traps, see MEMORY round-protocol):
ZERO backslashes in any pattern (Spark SQL literals process escapes,
DuckDB's don't), no newline chars inside patterns (block breaks go
through a '|@|' sentinel replaced by chr(10) at the very end), and
'(?is)' flags + non-greedy '.*?' which Java regex and RE2 implement
identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.operators.parallel import overlap_jobs
from dmds_spark.queries import register
from dmds_spark.queries.round10 import (
    _canon_sql,
    _URL_DUCK,
    _URL_SPARK,
)
from dmds_spark.sources.registry import load_events, load_table


# ---------------------------------------------------------------------------
# shared HTML synthesis (rendered per engine: only CAST spelling differs)
# ---------------------------------------------------------------------------

# Deliberate mess the extractor must survive: uppercase tags, attrs,
# a script containing '<', '>', '&&' and quoted strings, a style block
# with braces, entities in visible text, an inline tag mid-sentence,
# and a second block present only for doc_id % 3 = 0.
_HTML_TMPL = (
    "('<!DOCTYPE html><HTML lang=\"' || lang || '\"><head>'"
    " || '<title>Doc ' || CAST(doc_id AS {S}) || '</title>'"
    " || '<style>body {{ margin: 0; }} .hero > em {{ color: #fff; }}</style>'"
    " || '<script type=\"text/javascript\">var ok = 1 < 2 && 3 > 2;"
    " track(\"' || source || '\", ''q&a'');</script>'"
    " || '</head><body>'"
    " || '<nav><ul><li>Home</li><li>' || upper(source) || '</li></ul></nav>'"
    " || '<h1 class=\"hero\">' || upper(lang) || ' &amp; ' || upper(source)"
    " || ' &lt;daily&gt;</h1>'"
    " || '<p>Fish &amp; chips&nbsp;deal: ' || substr(text, 1, 120)"
    " || ' <a href=\"https://' || source || '-site.net/' || lang"
    " || '/Page/' || CAST((doc_id + 1) % 40 AS {S}) || '\">next</a>'"
    " || ' <b>more</b> below.</p>'"
    " || CASE WHEN doc_id % 3 = 0 THEN '<div class=\"c2\">'"
    " || substr(text, 121, 120) || ' <a href=\"https://hub.example.org/'"
    " || source || '\">hub</a></div>' ELSE '' END"
    " || '<footer>Contact &quot;' || source || '&quot;</footer>'"
    " || '</body></HTML>')"
)
_HTML_SPARK = _HTML_TMPL.format(S="STRING")
_HTML_DUCK = _HTML_TMPL.format(S="VARCHAR")

# Extraction chain over a column named ``html``. Each step is a single
# codegen regexp/replace — the whole extractor is one projection, no
# UDF, no shuffle; at 100 TB it runs at scan speed fused into
# whole-stage codegen (and the identical SQL runs in DuckDB).
_BLOCK_CLOSERS = "</(p|div|h1|h2|h3|h4|h5|h6|li|ul|ol|nav|footer|title|tr|table|blockquote)>|<br[^>]*>"


def _extract_sql(engine: str) -> str:
    """Render the extraction chain for one engine. The ONLY divergence
    is that DuckDB's regexp_replace is single-match unless the 'g'
    option is passed, while Spark's is always global."""
    g = ", 'g'" if engine == "duck" else ""

    def rr(x: str, pat: str, repl: str) -> str:
        return f"regexp_replace({x}, '{pat}', '{repl}'{g})"

    x = "html"
    # 1-2. drop script/style subtrees (non-greedy, case-insensitive,
    #      dot-matches-newline so a multiline block still dies)
    x = rr(x, "(?is)<script[^>]*>.*?</script>", "")
    x = rr(x, "(?is)<style[^>]*>.*?</style>", "")
    # 3. block-closing tags become the break sentinel
    x = rr(x, f"(?i){_BLOCK_CLOSERS}", "|@|")
    # 4. strip every remaining tag
    x = rr(x, "<[^>]+>", "")
    # 5. decode the core entity set — &amp; LAST so '&amp;lt;' would
    #    decode to '&lt;' (one level), never to '<'
    x = f"replace({x}, '&lt;', '<')"
    x = f"replace({x}, '&gt;', '>')"
    x = f"replace({x}, '&quot;', '\"')"
    x = f"replace({x}, '&nbsp;', ' ')"
    x = f"replace({x}, '&amp;', '&')"
    # 6. whitespace discipline: collapse spaces, trim around breaks,
    #    collapse repeated breaks, drop edge breaks, then the sentinel
    #    becomes a real newline
    x = rr(x, "  +", " ")
    x = rr(x, " ?[|]@[|] ?", "|@|")
    x = rr(x, "([|]@[|])+", "|@|")
    x = rr(x, "^[|]@[|]", "")
    x = rr(x, "[|]@[|]$", "")
    x = f"replace({x}, '|@|', chr(10))"
    return f"trim({x})"


@register(
    "web_html_extract",
    f"""
    WITH h AS (
      SELECT doc_id, lang, source, {_HTML_DUCK} AS html FROM documents
    ), e AS (
      SELECT doc_id, lang, html, {_extract_sql('duck')} AS text
      FROM h
    )
    SELECT doc_id,
           CAST(length(html) AS BIGINT) AS n_chars_html,
           CAST(length(text) AS BIGINT) AS n_chars_text,
           CAST(length(text) - length(replace(text, chr(10), ''))
                + 1 AS BIGINT) AS n_blocks,
           CAST(CASE WHEN regexp_matches(text, '<(script|style|b|p|div)')
                THEN 1 ELSE 0 END AS BIGINT) AS leftover_markup,
           md5(text) AS text_fp,
           substr(text, 1, 40) AS head
    FROM e
    """,
)
def web_html_extract(spark, sf_dir):
    """HTML->text extraction (trafilatura-lite): script/style subtree
    removal, block-tag line breaking, tag stripping, entity decoding
    and whitespace normalization — the stage that turns crawl bytes
    into the clean text every downstream operator (lang-ID, quality,
    dedup) assumes. Per-doc output carries exact sizes, a block count,
    a leftover-markup detector (must be 0 — pinned by the oracle hash)
    and the md5 of the full extracted text, so the oracle comparison
    is sensitive to every byte of the extraction.

    Shape at scale: ONE whole-stage-codegen projection (seven regexes,
    five replaces) — no UDF, no shuffle, runs at parquet scan speed on
    any executor count."""
    h = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", F.expr(_HTML_SPARK).alias("html")
    )
    e = h.select("doc_id", "html", F.expr(_extract_sql("spark")).alias("text"))
    nl = F.lit("\n")
    return e.select(
        "doc_id",
        F.length("html").cast("bigint").alias("n_chars_html"),
        F.length("text").cast("bigint").alias("n_chars_text"),
        (
            F.length("text")
            - F.length(F.replace(F.col("text"), nl, F.lit("")))
            + 1
        ).cast("bigint").alias("n_blocks"),
        F.expr(
            "CAST(CASE WHEN text RLIKE '<(script|style|b|p|div)'"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("leftover_markup"),
        F.md5("text").alias("text_fp"),
        F.substring("text", 1, 40).alias("head"),
    )


@register(
    "pipeline_web_ingest",
    f"""
    WITH h AS (
      SELECT doc_id, lang, source,
             {_HTML_DUCK} AS html, {_URL_DUCK} AS url
      FROM documents
    ), e AS (
      SELECT doc_id, url,
             {_extract_sql('duck')} AS text
      FROM h
    ), c AS (
      SELECT doc_id, length(text) AS n_text,
             {_canon_sql('duck')} AS canon_url
      FROM (SELECT doc_id, url, text FROM e) AS sub
    ), k AS (
      SELECT canon_url,
             MIN(doc_id) AS keeper_doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_fetched,
             min_by(n_text, doc_id) AS keeper_chars
      FROM c GROUP BY canon_url
    )
    SELECT regexp_extract(regexp_extract(canon_url,
             '^https://([^/]+)', 1), '([^.]+[.][^.]+)$', 1) AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(n_fetched) AS BIGINT) AS n_fetched,
           CAST(SUM(keeper_chars) AS BIGINT) AS kept_chars,
           CAST(CAST(COUNT(*) AS DOUBLE) / SUM(n_fetched) AS DOUBLE)
             AS unique_ratio
    FROM k GROUP BY domain
    """,
)
def pipeline_web_ingest(spark, sf_dir):
    """End-to-end web ingest composite: raw HTML -> text extraction ->
    URL canonicalization -> URL-level keep-first dedup -> per-domain
    yield report (pages kept, fetch duplicates collapsed, clean-text
    volume, unique ratio). This is the full chain a crawl pipeline
    runs BEFORE text-level dedup; round10's line-boilerplate family
    picks up exactly where this leaves off.

    Shape at scale: extraction + canonicalization fuse into the scan
    projection; then two hash aggregates (canon_url — high-cardinality
    dedup; domain — heavy-hitter profile where AQE absorbs skew). No
    join anywhere: the keeper's text length rides along via min_by."""
    h = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source",
        F.expr(_HTML_SPARK).alias("html"),
        F.expr(_URL_SPARK).alias("url"),
    )
    e = h.select(
        "doc_id", "url", F.expr(_extract_sql("spark")).alias("text")
    )
    c = e.select(
        "doc_id",
        F.length("text").alias("n_text"),
        F.expr(_canon_sql("spark")).alias("canon_url"),
    )
    k = c.groupBy("canon_url").agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").cast("bigint").alias("n_fetched"),
        F.min_by("n_text", "doc_id").alias("keeper_chars"),
    )
    host = F.regexp_extract("canon_url", "^https://([^/]+)", 1)
    domain = F.regexp_extract(host, "([^.]+[.][^.]+)$", 1)
    return k.groupBy(domain.alias("domain")).agg(
        F.count("*").cast("bigint").alias("n_pages"),
        F.sum("n_fetched").cast("bigint").alias("n_fetched"),
        F.sum("keeper_chars").cast("bigint").alias("kept_chars"),
        (F.count("*").cast("double") / F.sum("n_fetched"))
        .cast("double")
        .alias("unique_ratio"),
    )


# ---------------------------------------------------------------------------
# persisted incremental IVF index, oracle-checked end to end
# ---------------------------------------------------------------------------


@register(
    "rollup_incremental_ivf",
    """
    WITH anchors AS (
      SELECT vec_id AS aid, embedding AS av FROM embeddings WHERE vec_id < 8
    ), assign AS (
      SELECT e.vec_id, a.aid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, a.av) DESC, a.aid
             ) AS rn
      FROM embeddings e CROSS JOIN anchors a
    )
    SELECT CAST(aid AS BIGINT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           MIN(vec_id) AS min_vid,
           MAX(vec_id) AS max_vid,
           CAST(SUM(vec_id) AS BIGINT) AS sum_vid
    FROM assign WHERE rn = 1
    GROUP BY aid
    """,
)
def rollup_incremental_ivf(spark, sf_dir):
    """Persisted incrementally-maintained IVF index proven against the
    oracle: freeze 8 anchor vectors (vec_id < 8) as the coarse
    quantizer, ingest the even-id half of the corpus (one O(new)
    assignment scan, partitioned-by-cell append + pointer flip), append
    the odd half as new files, ingest again — then report the
    accumulated per-cell census. The oracle states the FULL single-pass
    assignment declaratively (the same argmax-cosine the maintained
    store computes per increment), so the driver's hash-compare
    certifies increment-union == full rebuild — the maintained-index
    correctness claim, end to end (operators/incremental_ivf.py; the
    same acceptance shape as dedup_incremental_minhash).

    Shape at scale: each increment touches ONLY new vectors (constant
    k x dim centroid matrix, one scan, no join, no shuffle beyond the
    partitioned write); searches prune to nprobe cell directories.
    Reference analogue: the dirty-chunk incremental flush
    (tokio-fs/src/lib.rs:207-235) generalized from row storage to an
    ANN index."""
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.operators.incremental_ivf import IncrementalIVFIndex

    root = scratch_dir("inc_ivf", sf_dir)
    src = f"{root}/src"
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    idx = IncrementalIVFIndex(
        spark, src, f"{root}/store", "vec_id", "embedding"
    )

    def _freeze_centroids():
        anchors = (
            e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
        )  # 8 rows — bounded by k, never data size
        idx.set_centroids([list(r["embedding"]) for r in anchors])

    # quantizer freeze and first source write are independent jobs —
    # overlap them (guide §2.6)
    overlap_jobs(
        _freeze_centroids,
        lambda: e.filter(F.col("vec_id") % 2 == 0).write.parquet(src),
    )
    idx.refresh()
    e.filter(F.col("vec_id") % 2 == 1).write.mode("append").parquet(src)
    idx.refresh()
    return (
        idx.assignments()
        .groupBy(F.col("cluster").cast("bigint").alias("cluster"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.min("vec_id").alias("min_vid"),
            F.max("vec_id").alias("max_vid"),
            F.sum("vec_id").cast("bigint").alias("sum_vid"),
        )
    )


# ---------------------------------------------------------------------------
# World snapshot versioning (time travel), oracle-checked end to end
# ---------------------------------------------------------------------------


@register(
    "dmds_snapshot_timetravel",
    """
    SELECT CAST(1 AS BIGINT) AS version, event_id, user_id FROM events
    WHERE event_id < 3000
    UNION ALL
    SELECT CAST(2 AS BIGINT), event_id, (user_id + 100) % 2048 FROM events
    WHERE event_id < 100
    UNION ALL
    SELECT CAST(2 AS BIGINT), event_id, user_id FROM events
    WHERE event_id >= 200 AND event_id < 5000
    """,
)
def dmds_snapshot_timetravel(spark, sf_dir):
    """Manifest-pinned World time travel proven against the oracle:
    commit snapshot v1 (events id < 3000), then advance the world
    (relocate ids < 100 to a new user_id chunk, delete 100..199,
    append 3000..4999) committing v2 — and read BOTH versions back
    side by side from one store. The oracle states both end-states
    declaratively, so the driver's hash-compare certifies that v1 is
    byte-stable while v2 exists — corpus-release reproducibility
    (reference analogue: the payload version header,
    tokio-fs/src/lib.rs:89-90, generalized to whole-table state;
    world.py versioned mode).

    Shape at scale: each commit writes ONLY dirty partitions into an
    immutable ``_v{N}`` directory plus a manifest mapping partitions
    to owning versions — O(changed) write volume, O(1) pointer flip;
    a pinned read unions per-version scans filtered on the partition
    directory columns (pruned at file listing)."""
    from dmds_spark.core.dims import DimSpec, WorldSpec
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.world import World

    spec = WorldSpec(
        dims=(
            DimSpec("event_id", 0, 2**20 - 1, 4096),
            DimSpec("user_id", 0, 2047, 64),
        )
    )
    root = scratch_dir("tt_world", sf_dir)
    world = World(spark, spec, root, versioned=True)
    ev = load_events(spark, sf_dir).select("event_id", "user_id")
    world.upsert(ev.filter(F.col("event_id") < 3000))
    world.flush()  # snapshot v1
    moved = (
        ev.filter(F.col("event_id") < 100)
        .withColumn("user_id", (F.col("user_id") + 100) % 2048)
    )
    world.upsert(moved)
    world.delete_ids(range(100, 200))
    world.upsert(
        ev.filter((F.col("event_id") >= 3000) & (F.col("event_id") < 5000))
    )
    world.flush()  # snapshot v2
    out = None
    for v in (1, 2):
        tagged = world.snapshot(version=v).select(
            F.lit(v).cast("bigint").alias("version"), "event_id", "user_id"
        )
        out = tagged if out is None else out.unionByName(tagged)
    return out


# ---------------------------------------------------------------------------
# hyperlink extraction: the web-graph ingest (html -> edge list)
# ---------------------------------------------------------------------------


@register(
    "web_html_links",
    f"""
    WITH h AS (
      SELECT doc_id, source, {_HTML_DUCK} AS html FROM documents
    ), l AS (
      SELECT doc_id, source,
             UNNEST(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS href
      FROM h
    )
    SELECT href,
           CAST(COUNT(*) AS BIGINT) AS n_inlinks,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_ref_sources,
           MIN(doc_id) AS first_doc
    FROM l GROUP BY href
    """,
)
def web_html_links(spark, sf_dir):
    """Hyperlink extraction — the web-GRAPH ingest stage: pull every
    href out of the raw HTML (regexp_extract_all, one codegen
    projection) and aggregate the inlink profile per target URL
    (inlink count, distinct referring sources, first referrer). This
    edge list is exactly what the graph family (graph_pagerank,
    degree distributions) consumes; together with web_html_extract it
    completes crawl bytes -> {{text, links}}.

    Shape at scale: scan-fused extraction + explode (bounded by links
    per page) + ONE hash aggregate keyed on the target URL —
    high-cardinality, no skew pole beyond what AQE absorbs."""
    h = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.expr(_HTML_SPARK).alias("html")
    )
    links = h.select(
        "doc_id",
        "source",
        F.explode(
            F.expr("regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)")
        ).alias("href"),
    )
    return links.groupBy("href").agg(
        F.count("*").cast("bigint").alias("n_inlinks"),
        F.countDistinct("source").cast("bigint").alias("n_ref_sources"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# release audit: row-level diff between two committed World snapshots
# ---------------------------------------------------------------------------


@register(
    "dmds_snapshot_diff",
    """
    WITH v1 AS (
      SELECT event_id, user_id FROM events WHERE event_id < 3000
    ), v2 AS (
      SELECT event_id, (user_id + 100) % 2048 AS user_id FROM events
      WHERE event_id < 100
      UNION ALL
      SELECT event_id, user_id FROM events
      WHERE event_id >= 200 AND event_id < 5000
    ), d AS (
      SELECT COALESCE(v1.event_id, v2.event_id) AS event_id,
             CASE WHEN v1.event_id IS NULL THEN 'added'
                  WHEN v2.event_id IS NULL THEN 'removed'
                  WHEN v1.user_id <> v2.user_id THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM v1 FULL OUTER JOIN v2 ON v1.event_id = v2.event_id
    )
    SELECT status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum,
           MIN(event_id) AS min_id, MAX(event_id) AS max_id
    FROM d GROUP BY status
    """,
)
def dmds_snapshot_diff(spark, sf_dir):
    """Release audit between two committed World snapshots: full-outer
    join v1 against v2 on the id dim and classify every row
    added/removed/changed/unchanged — the what-changed-in-this-release
    report a 100 TB corpus pipeline publishes next to each snapshot
    (profile_snapshot_diff does this for parquet releases; this is the
    same audit on the engine's OWN versioned store, reading both
    versions out of one manifest-pinned World).

    Shape at scale: two manifest-resolved scans + one full-outer
    equi-join on the id (both sides chunk-partitioned by that id, so
    the join shuffles at most once) + a 4-row aggregate."""
    from dmds_spark.core.dims import DimSpec, WorldSpec
    from dmds_spark.core.scratch import scratch_dir
    from dmds_spark.world import World

    spec = WorldSpec(
        dims=(
            DimSpec("event_id", 0, 2**20 - 1, 4096),
            DimSpec("user_id", 0, 2047, 64),
        )
    )
    root = scratch_dir("diff_world", sf_dir)
    world = World(spark, spec, root, versioned=True)
    ev = load_events(spark, sf_dir).select("event_id", "user_id")
    world.upsert(ev.filter(F.col("event_id") < 3000))
    world.flush()
    world.upsert(
        ev.filter(F.col("event_id") < 100)
        .withColumn("user_id", (F.col("user_id") + 100) % 2048)
    )
    world.delete_ids(range(100, 200))
    world.upsert(
        ev.filter((F.col("event_id") >= 3000) & (F.col("event_id") < 5000))
    )
    world.flush()
    v1 = world.snapshot(version=1).select(
        F.col("event_id").alias("id1"), F.col("user_id").alias("u1")
    )
    v2 = world.snapshot(version=2).select(
        F.col("event_id").alias("id2"), F.col("user_id").alias("u2")
    )
    d = v1.join(v2, v1.id1 == v2.id2, "full_outer").select(
        F.coalesce("id1", "id2").alias("event_id"),
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .when(F.col("u1") != F.col("u2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("event_id").cast("bigint").alias("id_checksum"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# ---------------------------------------------------------------------------
# IVF geometry acceptance: recall@10 as a function of nprobe
# ---------------------------------------------------------------------------

_IVF_K = 8
_IVF_NQ = 20
_IVF_TOPK = 10


@register(
    "similarity_ivf_probe_sweep",
    f"""
    WITH anchors AS (
      SELECT vec_id AS aid, embedding AS av FROM embeddings
      WHERE vec_id < {_IVF_K}
    ), assign AS (
      SELECT e.vec_id, e.embedding, a.aid,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY list_cosine_similarity(e.embedding, a.av) DESC, a.aid
             ) AS rn
      FROM embeddings e CROSS JOIN anchors a
    ), cells AS (
      SELECT vec_id, embedding, aid FROM assign WHERE rn = 1
    ), q AS (
      SELECT vec_id AS qid, embedding AS qv FROM cells
      WHERE vec_id < {_IVF_NQ}
    ), cellrank AS (
      SELECT q.qid, a.aid,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(q.qv, a.av) DESC, a.aid
             ) AS r
      FROM q CROSS JOIN anchors a
    ), exact AS (
      SELECT q.qid, c.vec_id, c.aid,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY list_cosine_similarity(q.qv, c.embedding) DESC,
                        c.vec_id
             ) AS rn
      FROM q JOIN cells c ON c.vec_id <> q.qid
    ), top10 AS (
      SELECT qid, vec_id, aid FROM exact WHERE rn <= {_IVF_TOPK}
    ), probes AS (SELECT UNNEST([1, 2, 4, 8]) AS nprobe)
    SELECT CAST(p.nprobe AS BIGINT) AS nprobe,
           CAST(SUM(CASE WHEN cr.r <= p.nprobe THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(CAST(SUM(CASE WHEN cr.r <= p.nprobe THEN 1 ELSE 0 END)
                     AS DOUBLE) / COUNT(*) AS DOUBLE) AS recall
    FROM top10 t
    JOIN cellrank cr ON t.qid = cr.qid AND t.aid = cr.aid
    CROSS JOIN probes p
    GROUP BY p.nprobe
    """,
)
def similarity_ivf_probe_sweep(spark, sf_dir):
    """The IVF acceptance loop: exact recall@{_IVF_TOPK} of cell-probed
    search as a function of nprobe (1/2/4/8 of the {_IVF_K} cells), over
    {_IVF_NQ} query vectors against EXACT brute-force truth — the
    geometry-tuning report that decides how many cells a production
    search must probe (the persisted index in operators/
    incremental_ivf.py serves the probes; this query prices them).
    Same acceptance shape as similarity_lsh_recall_report.

    Shape at scale: truth is queries x corpus with the {_IVF_NQ}
    queries as the broadcast side (never a corpus shuffle); cell
    assignment and cell ranking are corpus x k and queries x k; the
    sweep itself is a 4-way constant explode over a
    {_IVF_NQ}x{_IVF_TOPK}-row table."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = e.filter(F.col("vec_id") < _IVF_K).select(
        F.col("vec_id").alias("aid"), F.col("embedding").alias("av")
    )

    def dot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    def cos(x, y):
        return dot(x, y) / (F.sqrt(dot(x, x)) * F.sqrt(dot(y, y)))

    wa = W.partitionBy("vec_id").orderBy(
        cos(F.col("embedding"), F.col("av")).desc(), F.col("aid")
    )
    cells = (
        e.crossJoin(F.broadcast(anchors))
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "aid")
    )
    q = cells.filter(F.col("vec_id") < _IVF_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    wr = W.partitionBy("qid").orderBy(
        cos(F.col("qv"), F.col("av")).desc(), F.col("aid")
    )
    cellrank = (
        q.crossJoin(F.broadcast(anchors))
        .withColumn("r", F.row_number().over(wr))
        .select("qid", "aid", "r")
    )
    we = W.partitionBy("qid").orderBy(
        cos(F.col("qv"), F.col("embedding")).desc(), F.col("vec_id")
    )
    top10 = (
        cells.join(F.broadcast(q), cells.vec_id != q.qid)
        .withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= _IVF_TOPK)
        .select("qid", "vec_id", "aid")
    )
    probes = F.explode(F.array(*[F.lit(p) for p in (1, 2, 4, 8)])).alias(
        "nprobe"
    )
    hit = (F.col("r") <= F.col("nprobe")).cast("long")
    return (
        top10.join(F.broadcast(cellrank), ["qid", "aid"])
        .select("qid", "r", probes)
        .groupBy(F.col("nprobe").cast("bigint").alias("nprobe"))
        .agg(
            F.sum(hit).cast("bigint").alias("n_hits"),
            F.count("*").cast("bigint").alias("n_total"),
            (F.sum(hit).cast("double") / F.count("*"))
            .cast("double")
            .alias("recall"),
        )
    )


# ---------------------------------------------------------------------------
# hashed linear quality classifier (fastText-style filter, codegen)
# ---------------------------------------------------------------------------

_QLIN_BUCKETS = 64
# feature hash: token -> bucket (the hashing trick); weight per bucket
# derived deterministically from md5 of the bucket index — standing in
# for learned weights with the same integer-exact execution shape
_QLIN_BUCKET = (
    "(('0x' || substr(md5(w), 1, 15))::BIGINT % {B})"
)
_QLIN_WEIGHT_T = (
    "((('0x' || substr(md5(CAST({EXPR} AS VARCHAR)), 1, 15))::BIGINT"
    " % 2001) - 1000)"
)
_QLIN_WEIGHT = _QLIN_WEIGHT_T.format(EXPR="b")


@register(
    "text_quality_linear_score",
    f"""
    WITH tok AS (
      SELECT doc_id, source, UNNEST(string_split(text, ' ')) AS w
      FROM documents
    ), f AS (
      SELECT doc_id, source,
             {_QLIN_BUCKET.format(B=_QLIN_BUCKETS)} AS b
      FROM tok
    ), scored AS (
      SELECT doc_id, ANY_VALUE(source) AS source,
             CAST(SUM({_QLIN_WEIGHT}) AS BIGINT) AS score,
             CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM f GROUP BY doc_id
    )
    SELECT doc_id, source, score, n_tokens,
           CASE WHEN score >= 0 THEN 'keep' ELSE 'drop' END AS verdict
    FROM scored
    """,
)
def text_quality_linear_score(spark, sf_dir):
    """Hashed LINEAR quality classifier — the fastText-style filter
    every large curation pipeline runs between heuristics and model
    scoring (CCNet/RefinedWeb shape): tokens hash into
    {_QLIN_BUCKETS} feature buckets (the hashing trick), each bucket
    carries a weight, the document score is the dot product, and the
    keep/drop verdict thresholds it. Weights here derive
    deterministically from md5 of the bucket id — the stand-in for
    learned weights with the IDENTICAL execution shape (swap the
    weight expression for a literal array lookup of trained values and
    nothing else changes). All integer-exact, so the oracle hash pins
    every token's feature hash and the full dot product.

    Shape at scale: explode -> ONE hash aggregate keyed on doc_id
    (map-side partial sums the weights); the 'model' lives in the
    expression — no join, no UDF, no driver round trip; at real vocab
    sizes the weight vector becomes a broadcast array literal indexed
    by the bucket, still codegen."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    bucket = F.expr(
        f"conv(substr(md5(w), 1, 15), 16, 10) % {_QLIN_BUCKETS}"
    ).cast("long")
    weight = (
        F.expr(
            "conv(substr(md5(CAST(b AS STRING)), 1, 15), 16, 10)"
        ).cast("long")
        % 2001
        - 1000
    )
    f = tok.select("doc_id", "source", bucket.alias("b"))
    scored = f.groupBy("doc_id").agg(
        F.any_value("source").alias("source"),
        F.sum(weight).cast("bigint").alias("score"),
        F.count("*").cast("bigint").alias("n_tokens"),
    )
    return scored.select(
        "doc_id",
        "source",
        "score",
        "n_tokens",
        F.when(F.col("score") >= 0, "keep").otherwise("drop").alias("verdict"),
    )


# ---------------------------------------------------------------------------
# the FULL curation funnel from raw crawl bytes (flagship composite)
# ---------------------------------------------------------------------------

_WCF_MIN_CHARS = 150
_WCF_LANGS = ("en", "de", "fr", "es")


@register(
    "pipeline_web_curation_full",
    f"""
    WITH h AS (
      SELECT doc_id, lang, source, {_HTML_DUCK} AS html FROM documents
    ), e AS (
      SELECT doc_id, lang, source,
             replace({_extract_sql('duck')}, chr(10), ' ') AS text
      FROM h
    ), f AS (
      SELECT doc_id, lang, source, text, length(text) AS n_ch,
             UNNEST(string_split(text, ' ')) AS w
      FROM e
    ), scored AS (
      SELECT doc_id, ANY_VALUE(lang) AS lang, ANY_VALUE(text) AS text,
             ANY_VALUE(n_ch) AS n_ch,
             CAST(SUM({_QLIN_WEIGHT_T.format(EXPR=_QLIN_BUCKET.format(B=_QLIN_BUCKETS))})
                  AS BIGINT) AS score
      FROM f GROUP BY doc_id
    ), gated AS (
      SELECT doc_id, text,
             CASE WHEN n_ch < {_WCF_MIN_CHARS} THEN '1_too_short'
                  WHEN lang NOT IN {_WCF_LANGS} THEN '2_lang'
                  WHEN score < 0 THEN '3_quality' END AS gate_stage
      FROM scored
    ), staged AS (
      -- dedup ranks ONLY gate survivors: ordering survivors first
      -- within each content group means a survivor's row number counts
      -- surviving predecessors only, so a duplicate whose keeper was
      -- itself gated away is correctly KEPT
      SELECT doc_id,
             COALESCE(gate_stage,
               CASE WHEN ROW_NUMBER() OVER (
                      PARTITION BY md5(text)
                      ORDER BY CASE WHEN gate_stage IS NULL THEN 0
                               ELSE 1 END, doc_id
                    ) > 1 THEN '4_exact_dup' ELSE '5_kept' END) AS stage
      FROM gated
    )
    SELECT stage, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM staged GROUP BY stage
    """,
)
def pipeline_web_curation_full(spark, sf_dir):
    """The FULL curation funnel from raw crawl bytes, end to end in one
    declarative plan: HTML -> text extraction (the round-11 extractor)
    -> length gate -> language gate -> hashed-linear quality gate (the
    fastText-style classifier) -> exact dedup keep-first -> kept, with
    a per-stage attrition census (count + id checksum) a crawl
    operator reads as the funnel report. Every stage is the REAL
    operator registered elsewhere; this composite proves they compose
    without a seam (the raw-bytes analogue of pipeline_attrition_report,
    which starts from already-clean text).

    Shape at scale: extraction fuses into the scan; the classifier is
    explode + ONE doc-keyed hash aggregate; the dup window is
    hash-partitioned by content digest (key-parallel corpus-wide); the
    census is a 5-row aggregate. No joins anywhere."""
    d = load_table(spark, sf_dir, "documents")
    # chained selects, not textual substitution of the synthesis into
    # the extractor expression: Catalyst's projection collapse fuses
    # them into the one scan projection anyway (pinned for the same
    # chain by test_html_extract_is_single_projection)
    h = d.select(
        "doc_id", "lang", "source", F.expr(_HTML_SPARK).alias("html")
    )
    e = h.select(
        "doc_id", "lang", "source",
        F.replace(
            F.expr(_extract_sql("spark")), F.lit("\n"), F.lit(" ")
        ).alias("text"),
    )
    tok = e.select(
        "doc_id", "lang", "text",
        F.length("text").alias("n_ch"),
        F.explode(F.split("text", " ")).alias("w"),
    )
    bucket = F.expr(
        f"conv(substr(md5(w), 1, 15), 16, 10) % {_QLIN_BUCKETS}"
    ).cast("long")
    weight = (
        F.expr(
            "conv(substr(md5(CAST(b AS STRING)), 1, 15), 16, 10)"
        ).cast("long") % 2001 - 1000
    )
    scored = (
        tok.select("doc_id", "lang", "text", "n_ch", bucket.alias("b"))
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.any_value("text").alias("text"),
            F.any_value("n_ch").alias("n_ch"),
            F.sum(weight).cast("bigint").alias("score"),
        )
    )
    from pyspark.sql import Window as W

    gate_stage = (
        F.when(F.col("n_ch") < _WCF_MIN_CHARS, "1_too_short")
        .when(~F.col("lang").isin(*_WCF_LANGS), "2_lang")
        .when(F.col("score") < 0, "3_quality")
    )
    gated = scored.select(
        "doc_id", "text", gate_stage.alias("gate_stage")
    )
    # dedup ranks ONLY gate survivors: ordering survivors first within
    # each content group means a survivor's row number counts surviving
    # predecessors only, so a duplicate whose keeper was itself gated
    # away is correctly KEPT
    rn = F.row_number().over(
        W.partitionBy(F.md5("text")).orderBy(
            F.when(F.col("gate_stage").isNull(), 0).otherwise(1),
            "doc_id",
        )
    )
    stage = F.coalesce(
        F.col("gate_stage"),
        F.when(rn > 1, "4_exact_dup").otherwise("5_kept"),
    )
    return (
        gated.select(stage.alias("stage"), "doc_id")
        .groupBy("stage")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("doc_id").cast("bigint").alias("id_checksum"),
        )
    )
