"""Round-7 queries, batch three: multimodal near-duplicate detection
via perceptual hashing (the image-dedup counterpart of MinHash) and
voice-activity segmentation over the audio frame features — both
deterministic integer outputs, both built so the Python stage is a
thin Arrow scan and everything after it is JVM DataFrame algebra. BOTH
gained full SQL oracles in round 13: the synthesized payload is
arithmetic in (doc_id, n_chars), so the pHash restates declaratively
here and VAD's PCM frame energies/islands restate via the shared
queries/_audio_oracle.py CTEs.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from dmds_spark.queries import register
from dmds_spark.sources.registry import load_table


# The aHash of the synthesized media is DECLARATIVE ARITHMETIC (the
# multimodal_real_decode_stats trick): payload byte j is
# (doc_id*31 + j*7) % 256 over L = min(w*h*3, 4096) bytes with
# w = 16 + n_chars%48, h = 16 + (n_chars//7)%48 (w*h*3 >= 768, so the
# <64-byte pad branch never fires), the 64 cell sums come from an
# UNNEST(range(T)) regeneration of the byte series, and the bit
# threshold is the exact integer cross-multiplication the operator
# uses. 2^k literals go through CAST(power(2,k) AS HUGEINT) — powers
# of two are exact doubles through 2^64.
_PHASH_ORACLE = """
    WITH geo AS (
      SELECT doc_id,
             least((16 + n_chars % 48) * (16 + (n_chars // 7) % 48) * 3,
                   4096) AS L
      FROM documents
    ), dims AS (
      SELECT doc_id, (L // 64) AS m, (L // 64) * 64 AS T FROM geo
    ), bytes AS (
      SELECT doc_id, m, T, j // m AS cell,
             (doc_id * 31 + j * 7) % 256 AS b
      FROM dims, UNNEST(range(T)) AS u(j)
    ), cells AS (
      SELECT doc_id, m, T, cell, SUM(b) AS cs
      FROM bytes GROUP BY doc_id, m, T, cell
    ), tot AS (
      SELECT doc_id, SUM(cs) AS total FROM cells GROUP BY doc_id
    ), ph AS (
      SELECT c.doc_id,
             SUM(CASE WHEN c.cs * c.T > t.total * c.m
                 THEN CAST(power(2, 63 - c.cell) AS HUGEINT)
                 ELSE 0 END) AS hu
      FROM cells c JOIN tot t USING (doc_id) GROUP BY c.doc_id
    ), blocked AS (
      SELECT doc_id, hu, k AS band_no,
             CAST((hu // CAST(power(2, k * 16) AS HUGEINT)) % 65536
                  AS BIGINT) AS band_key
      FROM ph, UNNEST(range(4)) AS bk(k)
    ), pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.hu AS hu_a, b.hu AS hu_b
      FROM blocked a JOIN blocked b
        ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), ham AS (
      SELECT bit_count(xor(
               CAST(CASE WHEN hu_a >= CAST(power(2, 63) AS HUGEINT)
                    THEN hu_a - CAST(power(2, 64) AS HUGEINT)
                    ELSE hu_a END AS BIGINT),
               CAST(CASE WHEN hu_b >= CAST(power(2, 63) AS HUGEINT)
                    THEN hu_b - CAST(power(2, 64) AS HUGEINT)
                    ELSE hu_b END AS BIGINT))) AS hamming
      FROM pairs
    )
    SELECT CAST(hamming AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM ham GROUP BY hamming ORDER BY hamming
    """


@register("multimodal_phash_neardup", _PHASH_ORACLE)
def multimodal_phash_neardup(spark, sf_dir):
    """Perceptual-hash near-dup detection over the media table,
    reported as the hamming-distance histogram of banded candidate
    pairs: documents -> fake media payloads -> 64-bit aHash per clip
    (operators/multimodal.perceptual_hashes, one Arrow scan) -> 4x16
    banded candidate join -> exact bit_count(xor) distance -> count
    per distance. The histogram is the TUNING view (where is the
    near-dup valley? what radius keeps precision?); an actual dedup
    keeps pairs under its radius and feeds them to the shared
    connected-components keep-first, exactly like dedup_minhash_pairs.

    Moved rows-only -> FULL ORACLE in round 13: the synthesized
    payload is arithmetic in (doc_id, n_chars), so the whole pipeline
    — cell sums, exact integer bit threshold, band keys, bit_count
    hamming — restates declaratively in DuckDB (see _PHASH_ORACLE).
    The operator's bit threshold is integer cross-multiplication for
    exactly this reason: float cell means round, and a rounded tie
    flips bits differently across engines.

    Shape at scale: hashes are 8-byte ints, the band join shuffles
    (band_no, 16-bit key, id, hash) only, pigeonhole gives total
    recall below hamming 4 (same proof as simhash_pairs), and the
    histogram is a tiny aggregate over candidate pairs — never
    all-pairs. Deterministic: integer hamming counts on deterministic
    payloads."""
    from dmds_spark.operators.multimodal import (
        media_table_from_documents,
        perceptual_hashes,
        phash_candidate_pairs,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    pairs = phash_candidate_pairs(perceptual_hashes(media))
    return (
        pairs.groupBy("hamming")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(F.col("hamming").cast("bigint").alias("hamming"), "n_pairs")
        .orderBy("hamming")
    )


from dmds_spark.queries._audio_oracle import AUDIO_VAD_SQL


@register("multimodal_audio_vad", AUDIO_VAD_SQL)
def multimodal_audio_vad(spark, sf_dir):
    """Voice-activity segmentation: the PCM frame energies
    (operators/multimodal.audio_frame_features — the one Arrow stage)
    feed a pure-DataFrame gaps-and-islands pass: a frame is ACTIVE
    when its energy exceeds its clip's mean (energy * n_frames >
    total_energy, exact integer cross-multiplication — no adaptive
    float threshold to drift), consecutive active frames merge into
    segments via the frame_no - row_number() island key, and each
    clip reports its segment count, active frames, and longest run —
    the silence-trim/segmentation summary a speech pipeline computes
    before cutting clips.

    Shape at scale: one mapInPandas scan for features, one window +
    one aggregate keyed on media_id (high cardinality) for the
    islands; all arithmetic integer-exact, so the output is identical
    under any partitioning."""
    from dmds_spark.operators.multimodal import (
        audio_frame_features,
        media_table_from_documents,
    )

    media = media_table_from_documents(load_table(spark, sf_dir, "documents"))
    frames = audio_frame_features(media)
    totals = frames.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames_total"),
        F.sum("energy").alias("total_energy"),
    )
    f = frames.join(totals, "media_id").withColumn(
        "active",
        (F.col("energy") * F.col("n_frames_total") > F.col("total_energy"))
        .cast("int"),
    )
    act = f.filter(F.col("active") == 1)
    w = W.partitionBy("media_id").orderBy("frame_no")
    islands = act.withColumn(
        "grp", F.col("frame_no") - F.row_number().over(w)
    )
    segs = islands.groupBy("media_id", "grp").agg(
        F.count(F.lit(1)).alias("seg_len"),
        F.sum("energy").alias("seg_energy"),
    )
    return (
        segs.groupBy("media_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_segments"),
            F.sum("seg_len").cast("bigint").alias("active_frames"),
            F.max("seg_len").cast("bigint").alias("longest_segment"),
            F.max("seg_energy").cast("bigint").alias("peak_segment_energy"),
        )
        .orderBy("media_id")
    )
