"""Round-10 queries, batch three: data-layout and engine-calibration
operators — Z-order clustering keys with a bounding-box locality
report, an exact Bloom-filter pre-join calibration, iteratively
LEARNED BPE merges (the training side of the BPE-ish token counting
the engine has carried since round 2), and the zlib
compression-ratio quality signal (Gopher/FineWeb's repetitive-text
filter).

Z-order and Bloom are oracle-exact (pure integer bit math both
engines). BPE training is a driver-bounded iterative algorithm and
the compression ratio needs zlib — both rows-only by design, each
pinned against a pure-Python reference in tests/test_round10_ops.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.core.engine import materialize
from dmds_spark.sources.registry import load_table


# ---------------------------------------------------------------------------
# Z-order clustering key + locality report
# ---------------------------------------------------------------------------

_Z_BITS = 10  # 10 bits per dim -> 20-bit z key, exact in i64


def _interleave_sql(x: str, y: str) -> str:
    """Bit-interleave two {0..2^bits-1} ints: z = sum_i bit_i(x)*4^i +
    2*bit_i(y)*4^i. Pure integer arithmetic (floordiv/mod), identical
    text on both engines — no engine bit intrinsics needed."""
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"(({x}) // {1 << i} % 2) * {4 ** i}")
        terms.append(f"(({y}) // {1 << i} % 2) * {2 * 4 ** i}")
    return "(" + " + ".join(terms) + ")"


# Spark SQL has no // operator; render per engine.
def _z_expr(engine: str, x: str, y: str) -> str:
    s = _interleave_sql(x, y)
    if engine == "spark":
        return s.replace("//", " DIV ")
    return s


@register(
    "layout_zorder_locality",
    f"""
    WITH pts AS (
      SELECT l_orderkey % 1024 AS x, l_partkey % 1024 AS y
      FROM lineitem
    ), z AS (
      SELECT x, y, {_z_expr('duck', 'x', 'y')} AS zkey FROM pts
    ), b AS (
      SELECT zkey // 4096 AS zbucket, x, y FROM z
    )
    SELECT zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y,
           CAST((MAX(x) - MIN(x) + 1) * (MAX(y) - MIN(y) + 1) AS BIGINT)
             AS bbox_area
    FROM b GROUP BY zbucket
    """,
)
def layout_zorder_locality(spark, sf_dir):
    """Z-order (Morton) clustering keys + the locality report that
    justifies them: interleave the bits of two scan dimensions into
    one sort key, cut the curve into buckets (the file/row-group
    grain), and report each bucket's (x, y) bounding box. Small
    bbox_area per bucket is exactly the property that makes min/max
    zone maps prune multi-dimensional predicates — the reason Delta
    ``OPTIMIZE ZORDER BY`` and friends exist. The interleave is plain
    integer arithmetic (floordiv/mod/multiply — 20 codegen terms, no
    bit intrinsics), so the oracle is exact.

    Shape at scale: the z key is a pure projection; production use is
    ``repartitionByRange(zkey).sortWithinPartitions(zkey)`` before the
    write, which costs one range exchange and buys every later
    two-dimensional range scan its pruning. The report here is one
    hash aggregate over the bucket grain (2^8 groups)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        (F.col("l_orderkey") % 1024).alias("x"),
        (F.col("l_partkey") % 1024).alias("y"),
    )
    z = li.select(
        "x", "y", F.expr(_z_expr("spark", "x", "y")).alias("zkey")
    )
    b = z.select(F.expr("zkey DIV 4096").alias("zbucket"), "x", "y")
    return b.groupBy("zbucket").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
        ((F.max("x") - F.min("x") + 1) * (F.max("y") - F.min("y") + 1))
        .cast("bigint")
        .alias("bbox_area"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter pre-join calibration (exact false-positive accounting)
# ---------------------------------------------------------------------------

_BLOOM_M = 16384  # bits
_BLOOM_K = 3      # hash functions
_BLOOM_CAND = 3000  # candidate keys 0..2999 probed against the filter

_BLOOM_POS = (
    "(('0x' || substr(md5(CAST({key} AS VARCHAR) || ':' || CAST({j} AS"
    f" VARCHAR)), 1, 12))::BIGINT % {_BLOOM_M})"
)


def _bloom_pos_spark(key, j):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(":"), F.lit(str(j)))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_M
    )


@register(
    "profile_bloom_prejoin_calibration",
    f"""
    WITH keys AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey % 3 = 0
    ), bits AS (
      SELECT DISTINCT pos FROM (
        SELECT UNNEST([{", ".join(_BLOOM_POS.format(key='k', j=j) for j in range(_BLOOM_K))}]) AS pos
        FROM keys
      )
    ), cand AS (
      SELECT UNNEST(range(0, {_BLOOM_CAND})) AS c
    ), probe AS (
      SELECT c,
             UNNEST([{", ".join(_BLOOM_POS.format(key='c', j=j) for j in range(_BLOOM_K))}]) AS pos
      FROM cand
    ), hits AS (
      SELECT p.c, COUNT(b.pos) AS n_set
      FROM probe p LEFT JOIN bits b ON p.pos = b.pos
      GROUP BY p.c
    ), lab AS (
      SELECT h.c,
             (h.n_set = {_BLOOM_K}) AS bloom_pass,
             (k.k IS NOT NULL) AS is_member
      FROM hits h LEFT JOIN keys k ON h.c = k.k
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
             AS n_members,
           CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bloom_pass,
           CAST(SUM(CASE WHEN bloom_pass AND NOT is_member
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN NOT bloom_pass AND is_member
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           CAST(CASE WHEN SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END) > 0
                THEN CAST(SUM(CASE WHEN bloom_pass AND NOT is_member
                              THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END)
                END AS DOUBLE) AS fp_rate
    FROM lab
    """,
)
def profile_bloom_prejoin_calibration(spark, sf_dir):
    """Exact calibration of a Bloom-filter pre-join: build an
    m={_BLOOM_M}-bit, k={_BLOOM_K}-hash filter over the distinct
    orders build keys, probe every candidate key, and account every
    outcome exactly — members passed, false positives, and the
    false-negative count the Bloom contract says must be ZERO (the
    oracle enforces the guarantee, not just the rate). This is the
    decision table for runtime-filter pre-joins. The build keys are
    the custkey % 3 = 0 third of the order keys, so at EVERY scale
    factor the probe range holds both members and non-members (at
    sf0.1 the full key space covers the probe range — an unfiltered
    build would leave no negatives to measure and a zero divisor,
    which the fp_rate guard also refuses on principle) (Spark's own
    bloom-filter join / InjectRuntimeFilter does this internally;
    here the mechanics are explicit and auditable): fp_rate prices
    how much probe-side data a pre-filter would fail to skip.

    Shape at scale: the filter is the DISTINCT of 3 positions per
    build key ({_BLOOM_M} rows max regardless of build size — it
    would BROADCAST); probes join on bit position. No UDF, no
    bit-array state — the set-of-set-bits relational encoding keeps
    both engines exact."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (
        orders.filter(F.col("o_custkey") % 3 == 0)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    bits = (
        keys.select(
            F.explode(
                F.array(
                    *[_bloom_pos_spark(F.col("k"), j) for j in range(_BLOOM_K)]
                )
            ).alias("pos")
        )
        .distinct()
    )
    cand = spark.range(0, _BLOOM_CAND).select(F.col("id").alias("c"))
    probe = cand.select(
        "c",
        F.explode(
            F.array(
                *[_bloom_pos_spark(F.col("c"), j) for j in range(_BLOOM_K)]
            )
        ).alias("pos"),
    )
    hits = (
        probe.join(F.broadcast(bits.withColumn("__set", F.lit(1))), "pos", "left")
        .groupBy("c")
        .agg(F.count("__set").alias("n_set"))
    )
    lab = hits.join(
        F.broadcast(keys), hits["c"] == keys["k"], "left"
    ).select(
        "c",
        (F.col("n_set") == _BLOOM_K).alias("bloom_pass"),
        F.col("k").isNotNull().alias("is_member"),
    )
    fp = F.sum((F.col("bloom_pass") & ~F.col("is_member")).cast("long"))
    return lab.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum(F.col("is_member").cast("long")).cast("bigint").alias("n_members"),
        F.sum(F.col("bloom_pass").cast("long")).cast("bigint").alias("n_bloom_pass"),
        fp.cast("bigint").alias("n_false_pos"),
        F.sum((~F.col("bloom_pass") & F.col("is_member")).cast("long"))
        .cast("bigint")
        .alias("n_false_neg"),
        F.when(
            F.sum((~F.col("is_member")).cast("long")) > 0,
            fp.cast("double") / F.sum((~F.col("is_member")).cast("long")),
        )
        .cast("double")
        .alias("fp_rate"),
    )


# ---------------------------------------------------------------------------
# BPE merge training (iterative; rows-only, Python-reference pinned)
# ---------------------------------------------------------------------------

_BPE_MERGES = 5


def bpe_train_merges(docs, text_col: str = "text", n_merges: int = _BPE_MERGES):
    """Learn the top ``n_merges`` BPE merges over the word-frequency
    table of ``docs``: start from character sequences, repeatedly (1)
    count adjacent symbol pairs corpus-weighted by word frequency, (2)
    take the argmax pair with a TOTAL order tie-break (count desc,
    pair asc), (3) apply the merge greedily left-to-right to every
    word — the Sennrich et al. BPE training loop as ``n_merges``
    bounded DataFrame rounds.

    Distribution contract: the pair count is one hash aggregate over
    the DISTINCT-WORD table (vocabulary-sized, not corpus-sized — the
    corpus collapses to (word, freq) once up front, which is the
    standard trick that makes BPE training tractable at any corpus
    size); only the single argmax row ever reaches the driver per
    round. The merge application is a codegen `aggregate` fold
    (greedy, non-overlapping: a token formed this round never
    re-merges this round). localCheckpoint per round cuts the lineage
    so round r+1 does not replay rounds 1..r."""
    from dmds_spark.operators.parallel import ensure_parallelism

    spark = docs.sparkSession
    vocab = (
        docs.select(F.explode(F.split(text_col, " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("freq"))
        .select(F.expr("split(w, '')").alias("toks"), "freq")
        # AQE coalesces the vocabulary-sized shuffle to ~1 partition by
        # bytes, but each round below runs an interpreted aggregate()
        # fold per word — floor the parallelism so the rounds use the
        # cluster (guide §2.6), not one core
        .transform(ensure_parallelism)
        .transform(materialize)
    )
    merges = []
    for rank in range(1, n_merges + 1):
        # size >= 2 BEFORE the pair transform: Spark's sequence(1, 0)
        # is the DESCENDING [1, 0], not empty — a 1-symbol word would
        # emit two phantom pairs with null members
        pairs = vocab.filter(F.size("toks") >= 2).select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks)-1),"
                    " i -> struct(toks[i-1] AS a, toks[i] AS b))"
                )
            ).alias("p"),
            "freq",
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))

        def esc(t: str) -> str:
            # symbols are interpolated into the fold expression as SQL
            # string literals — escape quote/backslash so a corpus
            # containing them cannot break (or inject into) the plan
            return t.replace("\\", "\\\\").replace("'", "\\'")

        a_s, b_s, m_s = esc(a), esc(b), esc(a + b)
        fold = (
            "aggregate(toks, CAST(array() AS ARRAY<STRING>), (acc, x) ->"
            f" CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '{a_s}'"
            f" AND x = '{b_s}'"
            f" THEN concat(slice(acc, 1, size(acc)-1), array('{m_s}'))"
            " ELSE concat(acc, array(x)) END)"
        )
        vocab = vocab.select(
            F.expr(fold).alias("toks"), "freq"
        ).transform(materialize)
    return spark.createDataFrame(
        merges, "merge_rank int, a string, b string, merged string, pair_count long"
    )


@register("tokens_bpe_train_merges", None)
def tokens_bpe_train_merges(spark, sf_dir):
    """The learned top-{_BPE_MERGES} BPE merge table for the corpus
    (rank, pair, merged symbol, corpus-weighted pair count). Rows-only
    by design: the argmax-per-round loop is not one SQL statement;
    tests/test_round10_ops.py pins the distributed result against a
    pure-Python BPE reference on the same word-frequency table, and
    the loop itself is documented in :func:`bpe_train_merges` (this is
    the training side of text_bpe_token_count's apply side)."""
    return bpe_train_merges(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# compression-ratio quality signal (zlib; Arrow mapInPandas)
# ---------------------------------------------------------------------------


def compression_ratio(docs, id_col: str = "doc_id", text_col: str = "text"):
    """Per-document zlib compression ratio — the cheap
    repetitive-text detector (Gopher / FineWeb filter family): highly
    repetitive or templated text compresses far below natural prose,
    so ``comp_len / raw_len`` is a one-pass quality feature with no
    model in the loop. Whole-batch zlib over Arrow ``mapInPandas``
    (level 6, the zlib default, pinned so re-runs are byte-stable);
    NULL text yields NULL ratio. Per-partition work only — no
    shuffle, the scan pipeline carries it."""
    import pandas as pd

    id_type = docs.schema[id_col].dataType.simpleString()

    def comp(batches):
        import zlib

        for pdf in batches:
            texts = pdf[text_col]
            raw, cl = [], []
            for t in texts:
                if isinstance(t, str):
                    bs = t.encode("utf-8")
                    raw.append(len(bs))
                    cl.append(len(zlib.compress(bs, 6)))
                else:
                    raw.append(None)
                    cl.append(None)
            out = pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "raw_len": pd.Series(raw, dtype="Int64"),
                    "comp_len": pd.Series(cl, dtype="Int64"),
                }
            )
            yield out

    from dmds_spark.operators.parallel import ensure_parallelism

    schema = f"{id_col} {id_type}, raw_len long, comp_len long"
    out = ensure_parallelism(docs.select(id_col, text_col)).mapInPandas(
        comp, schema
    )
    return out.select(
        id_col,
        "raw_len",
        "comp_len",
        (F.col("comp_len").cast("double") / F.col("raw_len"))
        .cast("double")
        .alias("compression_ratio"),
    )


@register("text_compression_ratio", None)
def text_compression_ratio(spark, sf_dir):
    """zlib compression ratio per document (rows-only: DuckDB has no
    zlib surface; tests pin known strings bit-exactly and the
    repetitive<natural ordering). The word-soup corpus makes the
    signal visible end-to-end: heavily repeated vocabulary compresses
    well below English prose entropy."""
    return compression_ratio(load_table(spark, sf_dir, "documents"))
