"""Scan-efficiency operators: parquet aggregate pushdown (footer-served
statistics), cross-lingual vocabulary OOV rates, and content-defined
chunking for sub-document dedup.

Scale notes (100 TB):
- Aggregate pushdown turns a full-table MIN/MAX/COUNT into a
  footer-metadata read — the scan does no row materialization at all.
  The 100 TB version of "how many rows / what's the value range" costs
  one footer per file, which is why table formats store exactly these
  stats in their manifests.
- OOV: the training vocabulary is a distinct-word table (bounded by
  |vocab|, not corpus size) broadcast against the evaluation corpus's
  exploded tokens — one map-side join, one (lang) aggregate.
- Content-defined chunking: boundaries depend on token CONTENT (hash
  test), not position, so an insertion reshuffles only the chunk it
  lands in — the property that makes chunk-level dedup robust to
  edits (the rsync/LBFS/backup-dedup trick, applied to corpus text).
  All chunking is per-doc window work keyed by doc_id; the chunk
  digest table aggregates with map-side combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens
from ..registry import query
from ..sources.loader import load_table


@query(
    "q_agg_pushdown_stats",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_quantity) AS DOUBLE) AS min_qty,
           CAST(MAX(l_quantity) AS DOUBLE) AS max_qty,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_orderkey,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_orderkey
    FROM lineitem
    """,
    tags=("scan", "pushdown", "parquet", "layout"),
)
def q_agg_pushdown_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet AGGREGATE pushdown: with
    spark.sql.parquet.aggregatePushdown on, a global MIN/MAX/COUNT
    over an unfiltered scan is answered from row-group footer
    statistics — the plan shows PushedAggregation and the scan
    materializes zero data pages (asserted in tests/test_plans.py).
    This is the engine-level analog of manifest-stats queries in
    table formats; at 100 TB the query costs one footer read per
    file.

    Session isolation: the conf is flipped on a newSession() CLONE
    (shared SparkContext, independent SQLConf), so no other
    registered query's plan can be silently altered by import or
    execution order. Pushdown requires no filter, no grouping on
    non-partition columns, and primitive column types — exactly this
    query's shape."""
    s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    # pushdown lives in the DataSource V2 parquet reader; the default
    # useV1SourceList routes parquet through V1, which silently plans
    # a full scan (verified: no PushedAggregation without this)
    s2.conf.set(
        "spark.sql.sources.useV1SourceList", "avro,csv,json,kafka,orc,text"
    )
    # loader confs (nanos handling, UTC) on the clone too
    from ..session import apply_runtime_confs

    apply_runtime_confs(s2)
    li = load_table(s2, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.min("l_orderkey").alias("min_orderkey"),
        F.max("l_orderkey").alias("max_orderkey"),
    )


_OOV_TRAIN_LANG = "en"


@query(
    "q_vocab_oov_rate",
    oracle=f"""
    WITH train_vocab AS (
      SELECT DISTINCT t.tok FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents WHERE lang = '{_OOV_TRAIN_LANG}'
      ) t
    ),
    eval_toks AS (
      SELECT lang, t.tok FROM (
        SELECT lang,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents
      ) t
    )
    SELECT e.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(1000000 * SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS oov_ppm
    FROM eval_toks e LEFT JOIN train_vocab v ON v.tok = e.tok
    GROUP BY e.lang
    """,
    tags=("text", "oov", "tokenizer", "llm-pipeline"),
)
def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage audit: train a word vocabulary on the
    English slice, then measure per-language OOV token
    rates over the whole corpus — the "will my tokenizer fragment
    this data" question asked before committing a vocab to a
    multilingual corpus (BPE softens but does not erase it: rare
    words fragment into long subword chains, which this word-level
    rate upper-bounds).

    Plan: the vocabulary is a distinct aggregate bounded by |vocab|;
    it broadcasts into a map-side left join against the exploded
    corpus; one (lang) aggregate ends the pipeline. OOV ppm is a
    truncating integer division of exact counts."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.filter(F.col("lang") == _OOV_TRAIN_LANG)
        .select(F.explode(tokens()).alias("tok"))
        .distinct()
        .withColumn("in_vocab", F.lit(1))
    )
    toks = d.select("lang", F.explode(tokens()).alias("tok"))
    return (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0)).alias(
                "n_oov"
            ),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr("CAST(1000000 * n_oov div n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
    )


# Content-defined chunking: a token closes a chunk when its md5's
# first 4 hex digits are divisible by the divisor — expected chunk
# length = divisor tokens, boundaries independent of position.
_CDC_DIV = 8


def _cdc_boundary_sql(tok: str) -> str:
    from .llm_pipeline import _hex_val_sql

    return f"(({_hex_val_sql(f'md5({tok})', 4)}) % {_CDC_DIV} = 0)"


@query(
    "q_cdc_chunking",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok,
             generate_subscripts(list_filter(string_split(text, ' '),
                                             x -> x <> ''), 1) AS pos
      FROM documents
    ),
    marked AS (
      SELECT doc_id, tok, pos,
             SUM(CASE WHEN {_cdc_boundary_sql("tok")} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS chunk_id
      FROM tok
    ),
    chunks AS (
      SELECT doc_id, COALESCE(chunk_id, 0) AS chunk_id,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS digest
      FROM marked GROUP BY doc_id, COALESCE(chunk_id, 0)
    ),
    df AS (
      SELECT digest, COUNT(DISTINCT doc_id) AS n_docs FROM chunks
      GROUP BY digest
    )
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_chunks,
           CAST(1000000 * SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
                // COUNT(*) AS BIGINT) AS shared_ppm
    FROM chunks c JOIN df ON df.digest = c.digest
    GROUP BY c.doc_id
    """,
    tags=("dedup", "cdc-chunking", "llm-pipeline"),
)
def q_cdc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking + chunk-level dedup profile: chunk
    boundaries fall AFTER tokens whose hash passes a divisibility
    test (expected length = the divisor, 8), so an edited or shifted
    passage re-chunks only locally — the backup-dedup / rsync
    boundary trick at token granularity. Each chunk's digest joins a
    corpus-wide document-frequency table; per doc we report how many
    of its chunks also appear elsewhere (sub-document duplication
    that document-level digests miss, cheaper and coarser than the
    8-gram span scrub in operators/corpus.py).

    Exactness: boundary test and chunk ids are integer md5 math; the
    shared-chunk counts and ppm are exact integers.

    Plan: one per-doc cumulative window (keyed shuffle on doc_id),
    one (doc, chunk) aggregate rebuilding chunk digests, one
    digest-keyed df aggregate + equi-join back. Everything is keyed
    by doc or digest — no pairwise anything; the df table carries one
    row per distinct chunk."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(tokens()).alias("pos", "tok")
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = tok.select(
        "doc_id",
        "tok",
        "pos",
        F.coalesce(
            F.sum(F.expr(_cdc_boundary_sql("tok")).cast("long")).over(w),
            F.lit(0),
        ).alias("chunk_id"),
    )
    chunks = (
        marked.groupBy("doc_id", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(" ", F.array_sort(F.collect_list(F.struct("pos", "tok"))).getField("tok"))
            ).alias("digest")
        )
    )
    df_tab = chunks.groupBy("digest").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(df_tab, "digest")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0)).alias(
                "n_shared_chunks"
            ),
        )
        .select(
            "doc_id",
            "n_chunks",
            "n_shared_chunks",
            F.expr(
                "CAST(1000000 * n_shared_chunks div n_chunks AS BIGINT)"
            ).alias("shared_ppm"),
        )
    )
