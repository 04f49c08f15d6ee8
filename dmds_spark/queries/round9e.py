"""Round-9 batch five: the end-to-end SFT corpus build as ONE
declarative plan — alternation validation -> conversation-level
benchmark decontamination -> token-budget truncation -> packing ->
dedup-safe split — composing the round9b/round9c stage queries the
way pipeline_pretrain_corpus composes the pretraining gates.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.queries.round9b import _CONV_SQL, SFT_TOKEN_BUDGET, _conv
from dmds_spark.queries.round9c import EVAL_MOD
from dmds_spark.sources.registry import load_table


K_DECON = 8  # contamination gram width (Lee et al. use 50-token
# windows; 8 keeps the sf-test corpora non-degenerate, like the span
# dedup family)
MAX_VIOL = 2  # tolerated adjacent same-role pairs per conversation


def _pipeline_sql() -> str:
    from dmds_spark.queries.llm_extra import _BUCKET_SQL

    b = _BUCKET_SQL.format(k="rep_id")
    return f"""
    WITH conv AS ({_CONV_SQL}),
    viol AS (
      SELECT conv_id FROM (
        SELECT conv_id,
               CASE WHEN role = LAG(role) OVER (
                 PARTITION BY conv_id ORDER BY turn
               ) THEN 1 ELSE 0 END AS v
        FROM conv
      ) GROUP BY conv_id HAVING SUM(v) > {MAX_VIOL}
    ), tokd AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS (
      SELECT doc_id,
             UNNEST(list_distinct(
               [array_to_string(list_slice(t, i, i + {K_DECON - 1}), ' ')
                for i in range(1, len(t) - {K_DECON - 2})])) AS sh
      FROM tokd WHERE len(t) >= {K_DECON}
    ), ev AS (
      SELECT DISTINCT sh FROM sh WHERE (doc_id // 8) % {EVAL_MOD} = 0
    ), contam AS (
      SELECT DISTINCT doc_id // 8 AS conv_id
      FROM sh JOIN ev USING (sh)
      WHERE (doc_id // 8) % {EVAL_MOD} <> 0
    ), kept AS (
      SELECT conv_id, turn, role, text, tok,
             SUM(tok) OVER (
               PARTITION BY conv_id ORDER BY turn DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cfe
      FROM conv
      WHERE conv_id % {EVAL_MOD} <> 0
        AND conv_id NOT IN (SELECT conv_id FROM viol)
        AND conv_id NOT IN (SELECT conv_id FROM contam)
    ), pieces AS (
      SELECT conv_id, turn, tok, '<|' || role || '|>' || text AS piece
      FROM kept WHERE cfe <= {SFT_TOKEN_BUDGET}
    ), packed AS (
      SELECT conv_id,
             CAST(COUNT(*) AS BIGINT) AS n_turns,
             CAST(SUM(tok) AS BIGINT) AS total_tok,
             md5(string_agg(piece, chr(10) ORDER BY turn)) AS packed_md5
      FROM pieces GROUP BY conv_id
    ), rep AS (
      SELECT conv_id, n_turns, total_tok, packed_md5,
             MIN(conv_id) OVER (PARTITION BY packed_md5) AS rep_id
      FROM packed
    )
    SELECT conv_id,
           CASE WHEN {b} < 8000 THEN 'train'
                WHEN {b} < 9000 THEN 'val'
                ELSE 'test' END AS split,
           n_turns, total_tok, packed_md5,
           CAST(rep_id AS BIGINT) AS rep_id
    FROM rep
    """


@register("pipeline_sft_corpus", _pipeline_sql())
def pipeline_sft_corpus(spark, sf_dir):
    """The full SFT corpus build as ONE declarative plan: drop eval
    conversations and alternation violators -> conversation-level
    benchmark decontamination (any dirty turn drops the conversation)
    -> token-budget truncation (latest suffix of turns) -> role-
    templated packing (md5-certified bytes) -> leakage-safe split
    keyed on the packed-bytes duplicate representative, so identical
    post-truncation conversations never straddle train/test. The
    validation gate tolerates MAX_VIOL adjacent same-role pairs (chat
    logs carry occasional system-merge artifacts; strict alternation
    keeps ~0.8% of an 8-turn random-parity corpus — a useless gate),
    and contamination uses word-8-grams (the span-dedup width: 3-grams
    over a benchmark slice flag literally every conversation).
    Composes sft_role_alternation, sft_decontaminate_convs,
    sft_truncate_to_budget, sft_pack_conversations and
    sample_split_leakage_safe; Catalyst fuses the per-row gates into
    the scan side of the two anti-joins.

    Shape at scale: the eval shingle set broadcasts (benchmark-sized);
    violators and contaminated ids are conversation-sized anti-join
    sides; the truncation window, the pack aggregate and the
    representative window all share the conv_id/packed_md5 hash
    partitionings (bounded groups). Nothing corpus-sized sorts
    globally. The gram stream deliberately does NOT persist for its
    two consumers (unlike pipeline_pretrain_corpus's 3-gram set):
    measured at sf0.1, caching the larger 8-gram distinct output costs
    MORE than recomputing it (2.6 s vs 2.2 s warm) — the
    materialization write/read exceeds the tokenize+kgram recompute at
    this gram width."""
    from dmds_spark.operators.dedup import word_kgram_rows
    from dmds_spark.operators.sampling import hash_bucket

    conv = _conv(spark, sf_dir)
    w = W.partitionBy("conv_id").orderBy("turn")
    viol = (
        conv.withColumn(
            "v",
            F.when(F.col("role") == F.lag("role").over(w), 1).otherwise(0),
        )
        .groupBy("conv_id")
        .agg(F.sum("v").alias("nv"))
        .filter(F.col("nv") > MAX_VIOL)
        .select("conv_id")
    )
    d = load_table(spark, sf_dir, "documents")
    sh = (
        word_kgram_rows(d, "text", "doc_id", K_DECON, col="sh")
        .select("doc_id", "sh")
        .distinct()
    )
    is_eval = F.pmod(F.expr("doc_id DIV 8"), F.lit(EVAL_MOD)) == 0
    ev = sh.filter(is_eval).select("sh").distinct()
    contam = (
        sh.filter(~is_eval)
        .join(F.broadcast(ev), "sh")
        .select(F.expr("CAST(doc_id DIV 8 AS BIGINT)").alias("conv_id"))
        .distinct()
    )
    w_trunc = (
        W.partitionBy("conv_id")
        .orderBy(F.col("turn").desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    kept = (
        conv.filter(F.pmod("conv_id", F.lit(EVAL_MOD)) != 0)
        .join(viol, "conv_id", "left_anti")
        .join(contam, "conv_id", "left_anti")
        .withColumn("cfe", F.sum("tok").over(w_trunc))
        .filter(F.col("cfe") <= SFT_TOKEN_BUDGET)
    )
    pieces = kept.select(
        "conv_id",
        "turn",
        "tok",
        F.concat(F.lit("<|"), "role", F.lit("|>"), "text").alias("piece"),
    )
    packed_str = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("turn", "piece"))),
            lambda s: s["piece"],
        ),
        "\n",
    )
    packed = pieces.groupBy("conv_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_turns"),
        F.sum("tok").cast("bigint").alias("total_tok"),
        F.md5(packed_str).alias("packed_md5"),
    )
    rep = packed.withColumn(
        "rep_id", F.min("conv_id").over(W.partitionBy("packed_md5"))
    )
    b = hash_bucket(F.col("rep_id"))
    return rep.select(
        "conv_id",
        F.when(b < 8000, F.lit("train"))
        .when(b < 9000, F.lit("val"))
        .otherwise(F.lit("test"))
        .alias("split"),
        "n_turns",
        "total_tok",
        "packed_md5",
        F.col("rep_id").cast("bigint").alias("rep_id"),
    )
