"""Deduplication operators for LLM training-data pipelines
(north star, SURVEY.md §2b): exact, MinHash+LSH, SimHash, n-gram
Jaccard. Every stage is DataFrame-native; hashes are md5-string
constructs so results are oracle-checkable in DuckDB
(functions/text.py).

Scale analysis (100 TB):
- exact dedup: one hash-shuffle on a 32-char key; map-side partial agg.
- MinHash LSH: signatures are per-row scans (no shuffle); the candidate
  join shuffles on (band, key) — fixed-width keys, skew bounded by
  bucket collision rate; AQE splits hot buckets (TESTED, not asserted:
  tests/test_skew.py test_lsh_band_join_hot_bucket_skew_split plants a
  degenerate constant-text bucket and pins SortMergeJoin(skew=true) on
  the band join; the hot bucket must be an outlier vs the median
  partition, which a 256 MB+ bucket among advisory-sized ones is).
  This is THE standard web-scale near-dup pipeline shape (the
  approxSimilarityJoin pattern).
- SimHash: per-row scan + self-join on band keys of the bit prefix.
- n-gram Jaccard: exact verify stage over LSH candidates only — never
  all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dmds_spark.core.engine import materialize as _materialize
from dmds_spark.functions.text import (
    lsh_band_keys,
    minhash_jaccard_estimate,
    words,
)


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content hash."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def word_kgram_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3, col: str = "__s"
) -> DataFrame:
    """(id, shingle) rows — one row per word k-gram, docs with < k
    words contribute none. The shared tokenize stage for every
    shingle-based operator (MinHash, contamination probe, Jaccard).

    Execution shape: tokenize with posexplode, form k-grams with
    window ``lead`` (small, codegen-stable expressions — array-lambda
    HOFs both run interpreted and emit huge generated methods the JIT
    refuses to compile, measured 40x slower and unstable). One shuffle
    on id, shared with any following per-id aggregation. Results match
    ``functions.text.word_shingles`` exploded."""
    tokenized = df.select(F.col(id_col), words(text_col).alias("__toks"))
    return kgram_rows_from_tokens(tokenized, "__toks", id_col, k, col)


def kgram_rows_from_tokens(
    df: DataFrame, toks_col: str, id_col: str, k: int = 3, col: str = "__s"
) -> DataFrame:
    """``word_kgram_rows`` over a pre-tokenized array column — the
    entry point for composite pipelines that tokenize ONCE and feed
    the same array to several gates (quality metrics, contamination
    shingles, token counts) instead of re-splitting the text per
    consumer."""
    from dmds_spark.operators.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    tok = df.select(
        F.col(id_col), F.posexplode(F.col(toks_col)).alias("__pos", "__w")
    )
    win = Window.partitionBy(id_col).orderBy("__pos")
    lead_cols = [F.lead("__w", i).over(win) for i in range(1, k)]
    return (
        tok.select(
            id_col,
            F.concat_ws(" ", F.col("__w"), *lead_cols).alias(col),
            lead_cols[-1].alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .drop("__last")
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_hashes: int = 16, k: int = 3
) -> DataFrame:
    """(id, signature) for docs with at least k words.

    Execution shape: ``word_kgram_rows`` then hash into ``num_hashes``
    md5 columns and groupBy(id).min each. The k-gram window and the
    aggregation share the id partitioning, so the whole pipeline pays
    ONE shuffle (plus map-side partial mins). Results are identical to
    functions.text.minhash_signature."""
    return minhash_signatures_from_shingles(
        word_kgram_rows(df, text_col, id_col, k), id_col, num_hashes
    )


def minhash_signatures_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int = 16, shingle_col: str = "__s"
) -> DataFrame:
    """(id, signature) from pre-built (id, shingle) rows — the entry
    point for pipelines that shingle the corpus ONCE and feed the same
    rows to the detector and to an exact verify/truth stage (persist
    the rows at the call site). Duplicate shingle rows are harmless
    (min is idempotent), so the DISTINCT rows of
    ``minhash_shingle_rows`` yield signatures identical to
    :func:`minhash_signatures` over the raw text."""
    # ONE md5 per shingle; slot j is the digest rotated left j hex
    # chars — rotation ranks by independent digest positions, giving
    # num_hashes near-independent minima for a single digest pass
    # (16x fewer md5 calls, the dominant per-row cost — measured 3x
    # end-to-end at sf0.1). substr/concat match DuckDB exactly.
    hashed = sh.select(id_col, F.md5(shingle_col).alias("__h")).select(
        id_col,
        *[
            F.concat(
                F.substring("__h", j + 1, 32 - j), F.substring("__h", 1, j)
            ).alias(f"__h{j}")
            for j in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"__h{j}").alias(f"__h{j}") for j in range(num_hashes)]
    ).select(
        id_col,
        F.array(*[F.col(f"__h{j}") for j in range(num_hashes)]).alias("signature"),
    )


def minhash_lsh_candidates(
    sigs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing >= 1 LSH band.
    The only shuffle is the equi-join on the exploded band key.

    ``materialize`` snapshots the signatures (localCheckpoint) before
    the self-join: both join sides then read the computed signatures
    instead of re-deriving the whole shingle->hash->min pipeline per
    side (measured 50x on the sf0.1 corpus). At production scale the
    same barrier is a signatures table written once and joined from —
    the standard two-job shape of web-scale dedup pipelines."""
    if materialize:
        sigs = sigs.transform(_materialize)
    rows = num_hashes // bands
    # The band self-join and cross-band pair dedup carry ONLY
    # (id, band_key) — the 16x32-char signatures re-attach by two
    # equi-joins afterwards (same shape as similarity.lsh_blocked_pairs;
    # carrying both signatures through the join+distinct multiplies the
    # shuffle bytes by the signature width).
    banded = sigs.select(
        F.col(id_col),
        F.explode(lsh_band_keys(F.col("signature"), bands, rows)).alias("band_key"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band_key")
    b = banded.select(F.col(id_col).alias("id_b"), "band_key")
    ids = (
        a.join(b, "band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        # NO repartition here (optimization round 2): every consumer
        # of this candidate set either BROADCASTS it (the jaccard/
        # containment verifies join shingle rows, whose width comes
        # from the corpus scan) or pays a cheap O(num_hashes) array
        # compare per pair — the unconditional round-robin exchange
        # added in round 15 (plus its sort-before-repartition) was a
        # measured net loss on dedup_minhash_pairs and
        # pipeline_curation (0.78x driver-measured) with no heavy
        # beneficiary on this path.
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"))
    return ids.join(sa, "id_a").join(sb, "id_b").select(
        "id_a", "id_b", "sig_a", "sig_b"
    )


def dedup_minhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs with estimated Jaccard >= threshold: shingle ->
    minhash -> band -> bucket-join -> estimate. Returns (id_a, id_b,
    jaccard_est)."""
    sigs = minhash_signatures(df, text_col, id_col, num_hashes)
    cand = minhash_lsh_candidates(sigs, id_col, num_hashes, bands)
    est = minhash_jaccard_estimate(F.col("sig_a"), F.col("sig_b"), num_hashes)
    return (
        cand.withColumn("jaccard_est", est)
        .filter(F.col("jaccard_est") >= threshold)
        .select("id_a", "id_b", "jaccard_est")
    )


def dedup_minhash_keep_first(
    df: DataFrame, text_col: str, id_col: str, **kw
) -> DataFrame:
    """Drop every doc that near-duplicates a lower-id doc (single-link,
    one LSH pass — the standard keep-canonical policy).

    No extra barrier here: the pair stream has exactly one consumer
    (the doomed-id distinct feeding the anti-join), so a checkpoint
    would be a pure extra materialization job — the shared
    intermediates that DO have multiple consumers (signatures) are
    already snapshotted inside minhash_lsh_candidates."""
    pairs = dedup_minhash(df, text_col, id_col, **kw)
    doomed = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(doomed, on=id_col, how="left_anti")


def simhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_bits: int = 16
) -> DataFrame:
    """(id, simhash bitstring) per doc: explode tokens -> md5 ONCE per
    token -> num_bits majority-vote sum aggregates. Codegen throughout,
    one shuffle, identical results to functions.text.simhash_bits
    (which stays as the per-row Column form for narrow plans)."""
    from dmds_spark.operators.parallel import ensure_parallelism

    df = ensure_parallelism(df)
    dig = df.select(
        F.col(id_col), F.explode(words(text_col)).alias("__t")
    ).select(id_col, F.md5("__t").alias("__d"))
    # bit b = top bit of hex digit b, tested ARITHMETICALLY: convert
    # each 8-hex-digit slice to a long once, then shift/mask — the
    # per-bit substring+instr form allocates 32 strings per row and
    # runs ~3x slower (measured at sf0.1). Semantics identical:
    # digit >= 8 <=> bit 3 of the digit.
    n_words = (num_bits + 7) // 8
    vals = dig.select(
        id_col,
        *[
            F.conv(F.substring("__d", 8 * w + 1, 8), 16, 10)
            .cast("long")
            .alias(f"__v{w}")
            for w in range(n_words)
        ],
    )

    def bit(b):
        shift = 4 * (7 - (b % 8)) + 3
        return F.shiftright(F.col(f"__v{b // 8}"), shift).bitwiseAND(F.lit(1))

    contribs = vals.groupBy(id_col).agg(
        *[
            F.sum(F.when(bit(b) == 1, 1).otherwise(-1)).alias(f"__b{b}")
            for b in range(num_bits)
        ]
    )
    return contribs.select(
        id_col,
        F.concat(
            *[
                F.when(F.col(f"__b{b}") >= 0, F.lit("1")).otherwise(F.lit("0"))
                for b in range(num_bits)
            ]
        ).alias("simhash"),
    )


def simhash_band_keys(simhash: "F.Column", num_bits: int, bands: int):
    """Pigeonhole band keys: split the bitstring into ``bands`` equal
    substrings; key b = 'b:substring'. Any pair within hamming distance
    ``bands - 1`` agrees EXACTLY on >= 1 band (pigeonhole), so blocking
    on these keys has perfect recall — unlike prefix blocking, which
    both misses pairs differing inside the prefix and degenerates to
    2^prefix coarse blocks at scale."""
    width = num_bits // bands
    if width * bands != num_bits:
        raise ValueError(f"bands={bands} must divide num_bits={num_bits}")
    return F.array(
        *[
            F.concat(F.lit(f"{b}:"), F.substring(simhash, b * width + 1, width))
            for b in range(bands)
        ]
    )


def simhash_pairs_from_signatures(
    sh: DataFrame,
    id_col: str,
    num_bits: int = 16,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """Near-dup pairs from a (id, simhash) table: explode the
    ``max_hamming + 1`` pigeonhole band keys, equi-join on the key,
    dedup pairs found in several bands, verify exact hamming <=
    max_hamming. Returns (id_a, id_b, hamming) with exact recall.

    Scale shape: per-band buckets have 2^(num_bits/bands) key space per
    band (e.g. 2^8 = 256x finer than a 4-bit prefix at 32 bits / 4
    bands); the join is an equi-join AQE can split on hot buckets."""
    bands = bands if bands is not None else max_hamming + 1
    # carry the signature as a LONG: hamming over candidates is then
    # one bit_count(xor) per pair instead of num_bits string compares
    # (the candidate set is quadratic in hot buckets — per-pair cost is
    # the lever), and the pair-dedup hashes 4 numeric columns
    blocked = sh.select(
        F.col(id_col),
        F.conv(F.col("simhash"), 2, 10).cast("long").alias("__shn"),
        F.explode(
            simhash_band_keys(F.col("simhash"), num_bits, bands)
        ).alias("__block"),
    )
    a = blocked.select(
        F.col(id_col).alias("id_a"), F.col("__shn").alias("__na"), "__block"
    )
    b = blocked.select(
        F.col(id_col).alias("id_b"), F.col("__shn").alias("__nb"), "__block"
    )
    ham = F.bit_count(F.col("__na").bitwiseXOR(F.col("__nb")))
    return (
        a.join(b, "__block")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__na", "__nb")
        .distinct()
        .withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_bits: int = 16,
    max_hamming: int = 3,
    bands: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: bitstring signature per doc, pigeonhole
    band blocking (exact recall for hamming <= max_hamming), exact
    hamming verify. Returns (id_a, id_b, hamming)."""
    sh = simhash_signatures(df, text_col, id_col, num_bits)
    # snapshot: shared by both self-join sides (else the token/md5/agg
    # pipeline runs twice); at production scale a written table
    sh = sh.transform(_materialize)
    return simhash_pairs_from_signatures(sh, id_col, num_bits, max_hamming, bands)


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard verification of candidate pairs (the
    verify stage after LSH).

    Pure-join formulation — no array columns anywhere: explode each
    doc's DISTINCT shingles to rows; |A∩B| is the row count of the
    (pair ⋈ shingles_a ⋈ shingles_b on equal shingle) join;
    |A∪B| = |A| + |B| − |A∩B| from per-doc counts. Every operator is
    a codegen-friendly equi-join/aggregate, and the candidate set
    (post-LSH, tiny relative to the corpus) broadcasts.

    The shingle rows feed THREE consumers (per-doc counts, both join
    sides) — pass pre-built ``shingle_rows`` (persisted at the call
    site, typically shared with the signature stage) to shingle the
    corpus once instead of three more times; built and persisted here
    otherwise."""
    from dmds_spark.operators.parallel import ensure_parallelism

    if shingle_rows is not None:
        sh = shingle_rows
    else:
        df = ensure_parallelism(df)
        sh = minhash_shingle_rows(df, text_col, id_col, k).persist()
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    p = pairs.select("id_a", "id_b")
    a_sh = sh.select(F.col(id_col).alias("id_a"), F.col("__s"))
    b_sh = sh.select(F.col(id_col).alias("id_b"), F.col("__s"))
    inter_counts = (
        F.broadcast(p)
        .join(a_sh, "id_a")
        .join(b_sh, ["id_b", "__s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    jac = F.col("__inter").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__inter")
    )
    # no broadcast hint on the counts: inter_counts (candidate-sized)
    # is the small side at scale — AQE picks the build side
    return (
        inter_counts.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_shingle_rows(
    df: DataFrame, text_col: str, id_col: str, k: int = 3
) -> DataFrame:
    """(id, shingle) rows, DISTINCT per doc — the exploded form of the
    shingle set, built with the same window-lead shape as
    minhash_signatures."""
    tok = df.select(
        F.col(id_col), F.posexplode(words(text_col)).alias("__pos", "__w")
    )
    win = Window.partitionBy(id_col).orderBy("__pos")
    lead_cols = [F.lead("__w", i).over(win) for i in range(1, k)]
    return (
        tok.select(
            id_col,
            F.concat_ws(" ", F.col("__w"), *lead_cols).alias("__s"),
            lead_cols[-1].alias("__last"),
        )
        .filter(F.col("__last").isNotNull())
        .select(id_col, "__s")
        .distinct()
    )


def shared_shingles(
    df: DataFrame, text_col: str, id_col: str, k: int, num_hashes: int
) -> tuple[DataFrame, DataFrame]:
    """Shingle the corpus ONCE: ``(srows, sigs)``, the persisted
    distinct (id, shingle) rows of ``df`` (spread to the default
    parallelism first) and the MinHash signatures built from them.
    Pass ``srows`` as ``shingle_rows`` to the verify operators (or to
    an exact truth side) so the text is tokenized once; the signatures
    are bit-identical to :func:`minhash_signatures` over the raw text
    (min over a doc's distinct shingles equals min over its raw k-gram
    stream).

    ``srows`` stays persisted after the returned DataFrames are
    dropped: ``session.release_materialized_state``, which ``bench.py``
    and ``tests/test_oracle.py`` call between queries, owns its
    lifetime."""
    from dmds_spark.operators.parallel import ensure_parallelism

    srows = minhash_shingle_rows(
        ensure_parallelism(df), text_col, id_col, k
    ).persist()
    return srows, minhash_signatures_from_shingles(srows, id_col, num_hashes)


def containment_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold_pct: int = 70,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT verification of candidate pairs:
    ``|A∩B| / min(|A|, |B|)`` — the asymmetric cousin of Jaccard that
    catches quote-inclusion and subset duplication (a short doc embedded
    verbatim in a long one scores near 1.0 here but low on Jaccard).

    Same pure-join formulation as :func:`jaccard_verify_pairs` (no
    array columns, candidate set broadcasts, shingle equi-join computes
    the intersection, three consumers of the shingle rows — pass a
    persisted ``shingle_rows`` to share the shingle pass), and the
    threshold compare is INTEGER math
    (``inter * 100 >= threshold_pct * min``) so the oracle hash cannot
    drift on a division boundary. Output: (id_a, id_b, inter_cnt,
    min_cnt) — scalar columns only (driver canonicalizer contract)."""
    from dmds_spark.operators.parallel import ensure_parallelism

    if shingle_rows is not None:
        sh = shingle_rows
    else:
        df = ensure_parallelism(df)
        sh = minhash_shingle_rows(df, text_col, id_col, k).persist()
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    p = pairs.select("id_a", "id_b")
    a_sh = sh.select(F.col(id_col).alias("id_a"), F.col("__s"))
    b_sh = sh.select(F.col(id_col).alias("id_b"), F.col("__s"))
    inter_counts = (
        F.broadcast(p)
        .join(a_sh, "id_a")
        .join(b_sh, ["id_b", "__s"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    na = counts.select(F.col(id_col).alias("id_a"), F.col("__n").alias("__na"))
    nb = counts.select(F.col(id_col).alias("id_b"), F.col("__n").alias("__nb"))
    min_cnt = F.least(F.col("__na"), F.col("__nb"))
    return (
        inter_counts.join(na, "id_a")
        .join(nb, "id_b")
        .filter(F.col("__inter") * 100 >= F.lit(threshold_pct) * min_cnt)
        .select(
            "id_a",
            "id_b",
            F.col("__inter").cast("long").alias("inter_cnt"),
            min_cnt.cast("long").alias("min_cnt"),
        )
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_iter: int = 20,
    small_graph_rows: int = 200_000,
) -> DataFrame:
    """Connected components by iterative min-label propagation:
    label(v) starts as v; each round takes the min label over v and its
    neighbors; converges in O(component diameter) rounds. Returns
    (id_col, cluster_id) where cluster_id = min vertex id reachable.

    Small-graph fast path (optimization round, guide §5 "the driver
    should do almost no data work" — EXCEPT when the data is provably
    tiny): near-dup pair sets are usually orders of magnitude smaller
    than the corpus, so after the one edge materialization the edge
    list is probed with a bounded ``limit(small_graph_rows + 1)``
    collect; when it fits, components resolve in a driver-side
    union-find (same min-label result, bit for bit) and the
    corpus-sized ``vertices`` attach by ONE broadcast join instead of
    O(diameter) rounds of vertex-table shuffle joins + checkpoints.
    Graphs past the bound take the distributed loop below unchanged —
    the 100 TB path. ``small_graph_rows=0`` disables the fast path
    (how the non-convergence contract stays testable).

    Distributed shape per round: one shuffle join (labels onto the edge
    list) + one groupBy(min). Lineage is cut with an eager
    localCheckpoint each round — without it the plan doubles per
    iteration and the driver dies planning round ~8. Near-dup clusters
    have tiny diameters (chains of pairwise-similar docs), so 3-4
    rounds is typical; the max_iter guard turns a pathological chain
    into an explicit error, never a hang (the fast path has no
    convergence loop, so it never raises it). At 1000-executor scale
    the same loop runs with edges hash-partitioned on src — the classic
    large-star/small-star refinement only pays off past billions of
    edges (it halves round count but doubles per-round shuffles).

    ``vertices`` (optional) adds isolated vertices: docs with no edge
    get cluster_id = their own id.
    """
    und = edges.select(
        F.col(src).alias("__u"), F.col(dst).alias("__v")
    ).union(edges.select(F.col(dst).alias("__u"), F.col(src).alias("__v")))
    if vertices is not None:
        verts = vertices.select(F.col(id_col).alias("__u")).distinct()
    else:
        verts = und.select("__u").distinct()
    und = und.transform(_materialize)
    if small_graph_rows:
        head = und.limit(small_graph_rows + 1).collect()
        if len(head) <= small_graph_rows:
            return _cc_union_find(
                head, und, verts, vertices is not None, id_col
            )
    labels = verts.withColumn("__label", F.col("__u")).transform(_materialize)
    for _ in range(max_iter):
        # min over self-label and every neighbor's label
        lab_v = labels.select(F.col("__u").alias("__v2"), F.col("__label"))
        neigh = (
            und.join(lab_v, F.col("__v") == F.col("__v2"), "inner")
            .groupBy("__u")
            .agg(F.min("__label").alias("__nmin"))
        )
        # carry the previous label through the checkpoint so the
        # convergence count is a filter over materialized rows, not a
        # second join job per round
        stepped = (
            labels.join(neigh, "__u", "left_outer")
            .select(
                "__u",
                F.least(
                    F.col("__label"), F.coalesce(F.col("__nmin"), F.col("__label"))
                ).alias("__label"),
                F.col("__label").alias("__old"),
            )
            .transform(_materialize)
        )
        changed = stepped.filter(F.col("__label") != F.col("__old")).count()
        labels = stepped.select("__u", "__label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    return labels.select(F.col("__u").alias(id_col), F.col("__label").alias("cluster_id"))


def _cc_union_find(
    und_rows: list,
    und: DataFrame,
    verts: DataFrame,
    has_vertices: bool,
    id_col: str,
) -> DataFrame:
    """Driver-side resolution of a BOUNDED component graph (see
    connected_components): union-find with path compression over the
    collected (already doubled) edge rows, labels = min id per
    component — exactly the min-label fixpoint the distributed loop
    converges to, including its edge semantics:

    * NULL endpoints never link anything (the distributed loop's
      equi-joins drop null keys); a null node that appears as an
      endpoint labels itself (null), exactly as the loop leaves it.
    * With ``vertices``, components are those of the VERTEX-INDUCED
      subgraph: the loop only propagates labels between labeled
      (= vertex) endpoints, so an edge touching a non-vertex id is
      inert. The union-find therefore restricts itself to edges whose
      endpoints are both vertices — membership of the BOUNDED endpoint
      set is resolved by one broadcast semi-join against ``vertices``
      (endpoint-set-sized output, one extra scan; corpus-sized
      ``vertices`` are never collected).

    The endpoint->label map is component-graph-sized (bounded by the
    collect that admitted us here); ``vertices`` attach by one
    broadcast left join, isolated ids labelling themselves."""
    spark = und.sparkSession
    id_type = und.schema["__u"].dataType
    nodes = {r["__u"] for r in und_rows} | {r["__v"] for r in und_rows}
    # deterministic order; None (never comparable to real ids) first
    ordered = sorted(nodes, key=lambda x: (x is not None, x))
    if has_vertices:
        nodes_df = spark.createDataFrame(
            [(x,) for x in ordered],
            T.StructType([T.StructField("__u", id_type)]),
        )
        member = {
            r["__u"]
            for r in verts.join(
                F.broadcast(nodes_df), "__u", "left_semi"
            ).collect()
        }
    else:
        member = nodes
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in und_rows:
        u, v = r["__u"], r["__v"]
        if u is None or v is None or u not in member or v not in member:
            continue  # inert in the distributed loop too (see above)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for x in nodes:
        if x not in member:
            continue
        rx = find(x)
        m = comp_min.get(rx)
        if m is None or (x is not None and x < m):
            comp_min[rx] = x
    lab_schema = T.StructType(
        [
            T.StructField("__u", id_type),
            T.StructField("__lab", id_type),
        ]
    )
    lab = spark.createDataFrame(
        [
            (x, comp_min[find(x)])
            for x in ordered
            if x in member
        ],
        lab_schema,
    )
    if not has_vertices:
        # node set == edge endpoints: the local map IS the answer
        return lab.select(
            F.col("__u").alias(id_col), F.col("__lab").alias("cluster_id")
        )
    return verts.join(F.broadcast(lab), "__u", "left").select(
        F.col("__u").alias(id_col),
        F.coalesce("__lab", F.col("__u")).alias("cluster_id"),
    )
