"""Dataloader-facing operators: the last mile between a curated
corpus and a training job — deterministic epoch shuffling into
shards, and length-grouped batch assembly that minimizes padding.

Both are pure layout computations (no RNG state): order and
assignment derive from md5 of stable keys, so every worker, every
retry, and every engine replays the identical plan — the property a
resumable 100 TB training run needs from its data order.

Scale notes:
- Epoch shuffle: shard assignment is a map-side hash; within-shard
  positions are windows keyed by (epoch, shard) — shuffle bounded by
  corpus size with ~|shards| x |epochs| independent partitions, no
  global ordering stage anywhere.
- Length batching: one window per (length-band) bucket orders docs
  and chops fixed-size batches; padding waste is computed per batch
  from the batch max. Buckets are derived from token counts map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens
from ..registry import query
from ..sources.loader import load_table

_EPOCHS = 2
_SHARDS = 8


@query(
    "q_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, e.epoch,
             md5(CAST(doc_id AS STRING) || '@' || CAST(e.epoch AS STRING)) AS k
      FROM documents CROSS JOIN generate_series(0, {_EPOCHS - 1}) AS e(epoch)
    )
    SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
           CAST(instr('0123456789abcdef', substr(k, 1, 1)) % {_SHARDS}
                AS BIGINT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY epoch,
                          instr('0123456789abcdef', substr(k, 1, 1)) % {_SHARDS}
             ORDER BY k, doc_id) AS BIGINT) AS position
    FROM keyed
    """,
    tags=("llm-pipeline", "dataloader", "shuffle"),
)
def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffling: each training epoch re-orders
    the corpus by md5(doc_id @ epoch) and deals it into shards —
    different epochs see genuinely different orders, yet any worker
    can recompute its shard's exact sequence from scratch (crash
    resume, straggler re-run, or an audit replay all agree). This is
    the distributed replacement for an in-memory RNG permutation,
    which cannot exist at 100 TB.

    Positions are per-(epoch, shard) windows — independent
    partitions, no global sort; shard skew is md5-uniform. The whole
    layout is integer/string math, hashed exactly."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_EPOCHS - 1))).alias("epoch"),
    ).select(
        "doc_id",
        "epoch",
        F.expr("md5(CAST(doc_id AS STRING) || '@' || CAST(epoch AS STRING))").alias(
            "k"
        ),
    )
    shard = F.expr(f"instr('0123456789abcdef', substr(k, 1, 1)) % {_SHARDS}")
    w = Window.partitionBy("epoch", shard).orderBy("k", "doc_id")
    return keyed.select(
        "doc_id",
        F.col("epoch").cast("long").alias("epoch"),
        shard.cast("long").alias("shard"),
        F.row_number().over(w).cast("long").alias("position"),
    )


_BATCH = 16
_BAND = 50  # token-length band width


@query(
    "q_length_grouped_batches",
    oracle=f"""
    WITH lens AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    banded AS (
      SELECT doc_id, n_tokens, n_tokens // {_BAND} AS band,
             row_number() OVER (PARTITION BY n_tokens // {_BAND}
                                ORDER BY n_tokens, doc_id) AS rn
      FROM lens
    ),
    batched AS (
      SELECT doc_id, n_tokens, band, (rn - 1) // {_BATCH} AS batch_in_band
      FROM banded
    )
    SELECT doc_id, n_tokens, CAST(band AS BIGINT) AS band,
           CAST(batch_in_band AS BIGINT) AS batch_in_band,
           CAST(MAX(n_tokens) OVER (PARTITION BY band, batch_in_band)
                - n_tokens AS BIGINT) AS padding_tokens
    FROM batched
    """,
    tags=("llm-pipeline", "dataloader", "batching", "packing"),
)
def q_length_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch assembly (the group_by_length trick):
    docs are banded by token length, ordered (length, doc_id) within
    the band, and chopped into fixed-size batches; each doc's
    padding_tokens is the distance to its batch max — the waste a
    random batching would multiply. Deterministic layout, exact
    integers throughout.

    Plan: token counts map-side; ONE window per band partition orders
    and numbers docs; the batch-max is a second window over the SAME
    (band, batch) partitioning — Spark chains it on one exchange
    keyed by band."""
    d = load_table(spark, sf_dir, "documents")
    lens = d.select(
        "doc_id", F.size(tokens()).cast("long").alias("n_tokens")
    )
    band = (F.col("n_tokens") / _BAND).cast("long")
    w_rn = Window.partitionBy("band").orderBy("n_tokens", "doc_id")
    banded = lens.select(
        "doc_id", "n_tokens", band.alias("band")
    ).withColumn("rn", F.row_number().over(w_rn))
    batched = banded.select(
        "doc_id",
        "n_tokens",
        "band",
        ((F.col("rn") - 1) / _BATCH).cast("long").alias("batch_in_band"),
    )
    w_max = Window.partitionBy("band", "batch_in_band")
    return batched.select(
        "doc_id",
        "n_tokens",
        "band",
        "batch_in_band",
        (F.max("n_tokens").over(w_max) - F.col("n_tokens")).alias(
            "padding_tokens"
        ),
    )


@query(
    "q_padding_waste",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ),
    b AS (
      SELECT lang, n_tokens,
             (ROW_NUMBER() OVER (PARTITION BY lang
                                 ORDER BY n_tokens, doc_id) - 1) // 16
               AS batch_id
      FROM t
    ),
    per_batch AS (
      SELECT lang, batch_id,
             CAST(COUNT(*) AS BIGINT) AS bsz,
             CAST(SUM(n_tokens) AS BIGINT) AS toks,
             CAST(MAX(n_tokens) AS BIGINT) AS mx
      FROM b GROUP BY lang, batch_id
    )
    SELECT lang,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(bsz * 256 - toks) AS BIGINT) AS pad_to_context_waste,
           CAST(SUM(bsz * mx - toks) AS BIGINT) AS pad_to_batchmax_waste,
           CAST((SUM(toks) + 255) // 256 AS BIGINT) AS packed_contexts_lb,
           CAST((1000000 * SUM(bsz * mx - toks)) // SUM(bsz * mx)
                AS BIGINT) AS batch_waste_ppm
    FROM per_batch GROUP BY lang
    """,
    tags=("pipeline", "packing", "padding", "dataloader", "llm-pipeline"),
)
def q_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste audit across the three batching regimes a
    training dataloader chooses between, exact integers per language:
    pad-every-doc-to-context (256) waste; pad-to-max-of-batch waste
    under length-sorted batches of 16 (the q_length_grouped_batches
    regime — sorting by length is precisely what shrinks bsz*max-sum);
    and the concat-packing lower bound ceil(total/256) contexts
    (q_pack_sequences achieves it by letting docs span boundaries).
    batch_waste_ppm is the figure a capacity plan actually buys down:
    tokens PAID (bsz*max) minus tokens USED, over tokens paid.

    Scale: one map-side token count, one length-rank window per
    language stratum, two bounded aggregates — the same single-
    exchange discipline as the dataloader family it audits."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tokens()).cast("bigint").alias("n_tokens"),
    )
    b = t.select(
        "lang",
        "n_tokens",
        F.expr(
            "(ROW_NUMBER() OVER (PARTITION BY lang"
            " ORDER BY n_tokens, doc_id) - 1) div 16"
        ).alias("batch_id"),
    )
    per_batch = b.groupBy("lang", "batch_id").agg(
        F.count(F.lit(1)).alias("bsz"),
        F.sum("n_tokens").alias("toks"),
        F.max("n_tokens").alias("mx"),
    )
    return per_batch.groupBy("lang").agg(
        F.sum("toks").alias("total_tokens"),
        F.sum(F.col("bsz") * 256 - F.col("toks")).alias("pad_to_context_waste"),
        F.sum(F.col("bsz") * F.col("mx") - F.col("toks")).alias(
            "pad_to_batchmax_waste"
        ),
        F.expr("CAST((SUM(toks) + 255) div 256 AS BIGINT)").alias(
            "packed_contexts_lb"
        ),
        F.expr(
            "CAST((1000000 * SUM(bsz * mx - toks)) div SUM(bsz * mx)"
            " AS BIGINT)"
        ).alias("batch_waste_ppm"),
    )
