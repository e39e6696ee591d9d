"""Cross-module capstones: queries COMPOSED from other registered
queries (imported last so every component is already in the registry —
both the Spark plans and the oracle SQL nest the component versions,
keeping composed truth synchronized with component truth)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens
from ..registry import query
from .llm_pipeline import _hex_val_sql

def _training_corpus_oracle() -> str:
    from ..registry import REGISTRY

    curation = REGISTRY["q_curation_pipeline"].oracle
    split_expr = _hex_val_sql("md5(CAST(doc_id AS VARCHAR))") + " % 100"
    return f"""
    WITH base AS ({curation}),
    kept AS (
      SELECT doc_id, lang, n_tokens,
             CASE WHEN ({split_expr}) < 80 THEN 'train'
                  WHEN ({split_expr}) < 90 THEN 'val' ELSE 'test' END AS split,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM base WHERE keep
    )
    SELECT doc_id, lang, split, n_tokens,
           CAST(SUM(n_tokens) OVER (PARTITION BY split, lang ORDER BY pri, doc_id
                                    ROWS UNBOUNDED PRECEDING) - n_tokens
                AS BIGINT) AS start_token,
           CAST((SUM(n_tokens) OVER (PARTITION BY split, lang ORDER BY pri, doc_id
                                     ROWS UNBOUNDED PRECEDING) - n_tokens) // 256
                AS BIGINT) AS pack_id
    FROM kept
    """


@query(
    "q_training_corpus",
    oracle=_training_corpus_oracle(),
    tags=("pipeline", "capstone", "composition"),
)
def q_training_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus build, composed from the engine's own
    operators (composition IS the test here): curation keep-set
    (fingerprint dedup + quality floor + language allowlist,
    q_curation_pipeline) -> deterministic md5 train/val/test split
    (q_hash_split's bucketing) -> per-(split, lang) sequence-packing
    offsets (q_pack_sequences' stratified cumulative sum). The Spark
    side literally calls the registered curation query and builds on
    its DataFrame — one plan, and the oracle nests the curation
    oracle as a subquery, so the composed truth stays synchronized
    with the component truth by construction.

    Scale: adds ONE stratified window to the curation plan (whose
    only shuffle is fingerprint-keyed); integer token counts keep
    every offset exact."""
    from ..registry import REGISTRY

    base = REGISTRY["q_curation_pipeline"].fn(spark, sf_dir)
    bucket = F.expr(_hex_val_sql("md5(CAST(doc_id AS STRING))")) % 100
    kept = base.filter("keep").select(
        "doc_id", "lang", "n_tokens",
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    w = (
        Window.partitionBy("split", "lang")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    start = cum - F.col("n_tokens")
    return kept.select(
        "doc_id", "lang", "split", "n_tokens",
        start.cast("long").alias("start_token"),
        F.floor(start / 256).cast("long").alias("pack_id"),
    )


@query(
    "q_data_card",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    doc AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             CAST(SUM(len(toks)) AS DOUBLE) AS n_tokens,
             CAST(COUNT(DISTINCT md5(text)) AS DOUBLE) AS distinct_texts,
             CAST(COUNT(DISTINCT source) AS DOUBLE) AS n_sources,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS DOUBLE) AS n_en
      FROM t
    ),
    wd AS (
      SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS v
      FROM (SELECT unnest(toks) AS tok FROM t)
    )
    SELECT 'n_docs' AS metric, n_docs AS value FROM doc
    UNION ALL SELECT 'n_tokens', n_tokens FROM doc
    UNION ALL SELECT 'exact_dup_docs', n_docs - distinct_texts FROM doc
    UNION ALL SELECT 'n_sources', n_sources FROM doc
    UNION ALL SELECT 'mean_tokens_per_doc', ROUND(n_tokens / n_docs, 9) FROM doc
    UNION ALL SELECT 'pct_lang_en', ROUND(n_en / n_docs, 9) FROM doc
    UNION ALL SELECT 'distinct_words', v FROM wd
    """,
    tags=("pipeline", "capstone", "data-card"),
)
def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus DATA CARD — the summary table a dataset release
    publishes, computed as two aggregate passes over the documents
    table: one doc-grain aggregate (counts, token totals, exact-dup
    count via md5 distinct, source/language mix) stacked into long
    (metric, value) form, plus one token-grain distinct count. Every
    value is an exact integer (or one IEEE division of two exact
    integers), so the card is hash-stable cross-engine.

    Scale: the doc-grain pass is a single full scan collapsing to ONE
    row (all partial-aggregated map-side — count distinct md5 keeps
    only distinct digests per partition before the exchange); the
    vocabulary distinct is the only token-grain shuffle, bounded by
    |vocab|. At 100 TB, swap exact COUNT(DISTINCT md5) for the HLL
    sketch rollup (q_hll_mergeable) if 1%% error is acceptable —
    same card, constant-size exchange."""
    from ..sources.loader import load_table

    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    doc = d.select(
        "lang", "source", "text", F.size(toks).alias("n_toks")
    ).agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("n_toks").cast("double").alias("n_tokens"),
        F.countDistinct(F.md5(F.col("text"))).cast("double").alias("distinct_texts"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("double")
        .alias("n_en"),
    )
    stacked = doc.select(
        F.expr(
            "stack(6,"
            " 'n_docs', n_docs,"
            " 'n_tokens', n_tokens,"
            " 'exact_dup_docs', n_docs - distinct_texts,"
            " 'n_sources', n_sources,"
            " 'mean_tokens_per_doc', round(n_tokens / n_docs, 9),"
            " 'pct_lang_en', round(n_en / n_docs, 9)"
            ") AS (metric, value)"
        )
    )
    words = (
        d.select(F.explode(toks).alias("tok"))
        .agg(F.countDistinct("tok").cast("double").alias("value"))
        .select(F.lit("distinct_words").alias("metric"), "value")
    )
    return stacked.unionAll(words)


def _ops_report_oracle() -> str:
    from ..registry import REGISTRY

    fresh = REGISTRY["q_freshness_sla"].oracle
    vol = REGISTRY["q_volume_anomaly"].oracle
    bounce = REGISTRY["q_bounce_rate"].oracle
    stick = REGISTRY["q_stickiness_dau_wau"].oracle
    return f"""
    WITH fresh AS ({fresh}),
    vol AS ({vol}),
    bounce AS ({bounce}),
    stick AS ({stick})
    SELECT 'sources_within_sla' AS metric,
           CAST(SUM(CASE WHEN within_sla THEN 1 ELSE 0 END) AS BIGINT)
             AS value
    FROM fresh
    UNION ALL SELECT 'max_lag_seconds',
           CAST(MAX(lag_seconds) AS BIGINT) FROM fresh
    UNION ALL SELECT 'anomalous_type_days',
           CAST(SUM(CASE WHEN anomalous THEN 1 ELSE 0 END) AS BIGINT)
           FROM vol
    UNION ALL SELECT 'max_robust_z_milli',
           CAST(MAX(robust_z_milli) AS BIGINT) FROM vol
    UNION ALL SELECT 'n_sessions', CAST(MAX(n_sessions) AS BIGINT)
           FROM bounce
    UNION ALL SELECT 'bounce_ppm', CAST(MAX(bounce_ppm) AS BIGINT)
           FROM bounce
    UNION ALL SELECT 'min_stickiness_ppm',
           CAST(MIN(stickiness_ppm) AS BIGINT) FROM stick
    UNION ALL SELECT 'max_stickiness_ppm',
           CAST(MAX(stickiness_ppm) AS BIGINT) FROM stick
    """


@query(
    "q_ops_report",
    oracle=_ops_report_oracle(),
    tags=("capstone", "operations", "monitoring", "composition"),
)
def q_ops_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OPERATIONS report — the monitoring family's capstone,
    composed from four registered queries exactly as q_data_card
    composes the corpus card: freshness SLA compliance
    (q_freshness_sla), volume-anomaly census (q_volume_anomaly),
    session bounce health (q_bounce_rate) and engagement stickiness
    range (q_stickiness_dau_wau), each reduced to hash-stable BIGINT
    scalars and stacked into long (metric, value) form. The Spark
    side calls the registered component queries and aggregates their
    DataFrames; the oracle nests the component oracles as
    subqueries, so the report stays synchronized with component truth
    by construction — change a component's semantics and this
    capstone's parity breaks loudly.

    Scale: the cost is the components' cost (each documented in
    SCALE.md); the report layer adds only scalar reductions."""
    from ..registry import REGISTRY

    sf = sf_dir
    fresh = REGISTRY["q_freshness_sla"].fn(spark, sf)
    vol = REGISTRY["q_volume_anomaly"].fn(spark, sf)
    bounce = REGISTRY["q_bounce_rate"].fn(spark, sf)
    stick = REGISTRY["q_stickiness_dau_wau"].fn(spark, sf)

    def row(metric, df_agg):
        return df_agg.select(
            F.lit(metric).alias("metric"),
            F.col("v").cast("long").alias("value"),
        )

    parts = [
        row(
            "sources_within_sla",
            fresh.agg(
                F.sum(
                    F.expr("CASE WHEN within_sla THEN 1 ELSE 0 END")
                ).alias("v")
            ),
        ),
        row("max_lag_seconds", fresh.agg(F.max("lag_seconds").alias("v"))),
        row(
            "anomalous_type_days",
            vol.agg(
                F.sum(
                    F.expr("CASE WHEN anomalous THEN 1 ELSE 0 END")
                ).alias("v")
            ),
        ),
        row(
            "max_robust_z_milli",
            vol.agg(F.max("robust_z_milli").alias("v")),
        ),
        row("n_sessions", bounce.agg(F.max("n_sessions").alias("v"))),
        row("bounce_ppm", bounce.agg(F.max("bounce_ppm").alias("v"))),
        row(
            "min_stickiness_ppm",
            stick.agg(F.min("stickiness_ppm").alias("v")),
        ),
        row(
            "max_stickiness_ppm",
            stick.agg(F.max("stickiness_ppm").alias("v")),
        ),
    ]
    res = parts[0]
    for df in parts[1:]:
        res = res.unionAll(df)
    return res


def _pretrain_corpus_oracle() -> str:
    from ..registry import REGISTRY

    gopher = REGISTRY["q_gopher_rules"].oracle
    rep = REGISTRY["q_cluster_representative"].oracle
    decon = REGISTRY["q_decontaminate"].oracle
    return f"""
    WITH gopher AS ({gopher}),
    rep AS ({rep}),
    decon AS ({decon})
    SELECT d.doc_id,
           (d.doc_id % 97 = 0) AS in_eval_slice,
           g.keep AS gopher_ok,
           r.is_representative AS dedup_ok,
           CAST(r.cluster_id AS BIGINT) AS cluster_id,
           (c.doc_id IS NULL) AS decontam_ok,
           (d.doc_id % 97 <> 0 AND g.keep AND r.is_representative
            AND c.doc_id IS NULL) AS kept
    FROM documents d
    JOIN gopher g ON g.doc_id = d.doc_id
    JOIN rep r ON r.doc_id = d.doc_id
    LEFT JOIN decon c ON c.doc_id = d.doc_id
    """


@query(
    "q_pretrain_corpus",
    oracle=_pretrain_corpus_oracle(),
    tags=("pipeline", "capstone", "composition", "dedup", "llm-pipeline"),
)
def q_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE pretraining-data recipe, composed end to end from the
    engine's own registered operators (round 4 — every stage is the
    scale-safe variant): Gopher quality rules (q_gopher_rules) ->
    near-dup clusters with keep-the-best representative selection
    (q_cluster_representative, riding the LSH-banded + star-contraction
    q_dedup_clusters composition — no quadratic stage) -> eval-set
    n-gram decontamination (q_decontaminate, broadcast eval shingles).
    A document ships iff it passes the rule battery AND is its
    near-dup cluster's best representative AND shares no 4-gram with
    the eval slice AND is not itself eval. Per-doc reason booleans
    make the filter auditable — the report a data team actually reads
    before burning GPU-hours.

    Composition IS the test: the Spark side calls the registered
    component queries and joins their DataFrames; the oracle nests the
    component oracles as CTEs, so composed truth stays synchronized
    with component truth by construction (the q_training_corpus /
    q_ops_report house pattern).

    Scale: three doc_id-keyed equi-joins over component outputs whose
    own shuffles are documented at their definitions (rule battery:
    one agg; LSH clusters: banded edges + star CC; decontamination:
    broadcast). Nothing here adds more than |docs|-row exchanges.

    Measured REJECTION (round 5, the VERDICT r4 #4 hypothesis): a
    scoped documents persist (plan-keyed CacheManager serving all
    three components' scans from one InMemoryRelation) + eager
    localCheckpoint so the cache could be unpersisted before return
    was built and benchmarked — and LOST: 9.0 s -> 10.3 s warm at
    sf0.1. The three components share only a ~5k-row parquet scan;
    the capstone's wall is the cluster stage's CC job launches, not
    the scan. The dominant intermediate is the LSH CLUSTER frame
    (through q_cluster_representative); since round 8 it is computed
    fresh per invocation — the per-(application, sf_dir) memo it used
    to ride was cross-run result caching, which the bench methodology
    forbids — so this capstone's wall includes the clustering it
    actually performs. A production pipeline would persist the labels
    as a table; see _lsh_cluster_frame's docstring."""
    from ..registry import REGISTRY
    from ..sources.loader import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    gopher = REGISTRY["q_gopher_rules"].fn(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("gopher_ok")
    )
    rep = REGISTRY["q_cluster_representative"].fn(spark, sf_dir).select(
        "doc_id", "cluster_id", F.col("is_representative").alias("dedup_ok")
    )
    decon = REGISTRY["q_decontaminate"].fn(spark, sf_dir).select(
        "doc_id", F.lit(False).alias("decontam_ok_flag")
    )
    out = (
        d.join(gopher, "doc_id")
        .join(rep, "doc_id")
        .join(decon, "doc_id", "left")
    )
    in_eval = F.col("doc_id") % 97 == 0
    decontam_ok = F.col("decontam_ok_flag").isNull()
    return out.select(
        "doc_id",
        in_eval.alias("in_eval_slice"),
        "gopher_ok",
        "dedup_ok",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        decontam_ok.alias("decontam_ok"),
        (~in_eval & F.col("gopher_ok") & F.col("dedup_ok") & decontam_ok).alias(
            "kept"
        ),
    )


def _attribution_report_oracle() -> str:
    from ..registry import REGISTRY

    roles = REGISTRY["q_touch_roles"].oracle
    shap = REGISTRY["q_shapley_attribution"].oracle
    rem = REGISTRY["q_markov_removal"].oracle
    return f"""
    WITH roles AS ({roles}),
    shap AS ({shap}),
    rem AS ({rem})
    SELECT channel, 'n_opener' AS metric, CAST(n_opener AS BIGINT) AS value
    FROM roles
    UNION ALL SELECT channel, 'n_closer', CAST(n_closer AS BIGINT) FROM roles
    UNION ALL SELECT channel, 'n_assist', CAST(n_assist AS BIGINT) FROM roles
    UNION ALL SELECT channel, 'shapley_x24', CAST(phi_x24 AS BIGINT) FROM shap
    UNION ALL SELECT removed_channel, 'removal_drop_from_view_ppm',
           CAST(removal_drop_ppm AS BIGINT)
    FROM rem WHERE start_state = 'view'
    """


@query(
    "q_attribution_report",
    oracle=_attribution_report_oracle(),
    tags=("capstone", "attribution", "composition"),
)
def q_attribution_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ATTRIBUTION report — the marketing-analytics capstone
    composing the three registered attribution lenses into one
    long-form (channel, metric, value) table, the q_ops_report
    pattern: positional facts (q_touch_roles: opener/closer/assist
    counts), fair-division credit (q_shapley_attribution: exact
    phi x 4!), and counterfactual value (q_markov_removal: absorption
    drop from the 'view' top-of-funnel state when the channel's node
    is deleted). The Spark side calls the registered components; the
    oracle nests the component oracles — change any lens's semantics
    and this capstone's parity breaks loudly.

    Scale: the cost is the components' cost — all three reduce the
    event stream with user_id-keyed single-exchange passes and do
    their credit math on channel-/state-sized constants; the report
    layer adds only the stack."""
    from ..registry import REGISTRY

    roles = REGISTRY["q_touch_roles"].fn(spark, sf_dir)
    shap = REGISTRY["q_shapley_attribution"].fn(spark, sf_dir)
    rem = REGISTRY["q_markov_removal"].fn(spark, sf_dir)

    def long(df, metric_name, value_col, channel_col="channel"):
        return df.select(
            F.col(channel_col).alias("channel"),
            F.lit(metric_name).alias("metric"),
            F.col(value_col).cast("long").alias("value"),
        )

    return (
        long(roles, "n_opener", "n_opener")
        .unionAll(long(roles, "n_closer", "n_closer"))
        .unionAll(long(roles, "n_assist", "n_assist"))
        .unionAll(long(shap, "shapley_x24", "phi_x24"))
        .unionAll(
            long(
                rem.filter(F.col("start_state") == "view"),
                "removal_drop_from_view_ppm",
                "removal_drop_ppm",
                channel_col="removed_channel",
            )
        )
    )


# ---------------------------------------------------------------------
# q_ab_test_report (round 6)
# ---------------------------------------------------------------------


def _ab_report_oracle() -> str:
    from ..registry import REGISTRY

    srm = REGISTRY["q_srm_check"].oracle
    welch = REGISTRY["q_welch_ttest"].oracle
    cuped = REGISTRY["q_cuped_adjustment"].oracle
    power = REGISTRY["q_power_mde"].oracle
    sprt = REGISTRY["q_sprt_boundary"].oracle
    return f"""
    WITH srm AS ({srm}),
    welch AS ({welch}),
    cuped AS ({cuped}),
    power AS ({power}),
    sprt AS ({sprt})
    SELECT 'srm_flagged_segments' AS metric,
           CAST(SUM(CASE WHEN srm_flag THEN 1 ELSE 0 END) AS BIGINT)
             AS value
    FROM srm
    UNION ALL SELECT 'srm_max_chi2_micro',
           CAST(MAX(chi2_micro) AS BIGINT) FROM srm
    UNION ALL SELECT 'welch_mean_diff_cents',
           CAST(ROUND(MAX(mean_diff_cents)) AS BIGINT) FROM welch
    UNION ALL SELECT 'welch_t2_micro',
           CAST(MAX(t2_micro) AS BIGINT) FROM welch
    UNION ALL SELECT 'cuped_max_var_reduction_ppm',
           CAST(MAX(var_reduction_ppm) AS BIGINT) FROM cuped
    UNION ALL SELECT 'cuped_min_var_reduction_ppm',
           CAST(MIN(var_reduction_ppm) AS BIGINT) FROM cuped
    UNION ALL SELECT 'power_max_mde_millicents',
           CAST(MAX(mde_millicents) AS BIGINT) FROM power
    UNION ALL SELECT 'power_min_rel_mde_ppm',
           CAST(MIN(rel_mde_ppm) AS BIGINT) FROM power
    UNION ALL SELECT 'sprt_final_llr_mnats',
           CAST(MAX(CASE WHEN n_seen = (SELECT MAX(n_seen) FROM sprt)
                         THEN llr_mnats END) AS BIGINT) FROM sprt
    UNION ALL SELECT 'sprt_decided_checkpoints',
           CAST(SUM(CASE WHEN decision <> 'continue' THEN 1 ELSE 0 END)
                AS BIGINT) FROM sprt
    """


@query(
    "q_ab_test_report",
    oracle=_ab_report_oracle(),
    tags=("capstone", "ab-testing", "statistics", "composition"),
)
def q_ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B EXPERIMENT report — the statistics family's capstone,
    stacking the full experiment lifecycle from five registered
    queries into hash-stable long (metric, value) form: assignment
    health (q_srm_check — sample-ratio-mismatch flags), the primary
    read-out (q_welch_ttest — mean difference and t²), variance
    reduction available from pre-period covariates
    (q_cuped_adjustment), sensitivity (q_power_mde — minimum
    detectable effect per segment), and the sequential monitor's final
    state (q_sprt_boundary — terminal LLR and how many checkpoints had
    already crossed a boundary). One surface a decision meeting reads
    top to bottom; component semantics stay synchronized by
    construction because the oracle nests the component oracles —
    change any component and this capstone's parity breaks loudly.

    Scale: the cost is the components' cost (each documented in
    SCALE.md); the report layer adds only scalar reductions over their
    group-count-sized outputs."""
    from ..registry import REGISTRY

    srm = REGISTRY["q_srm_check"].fn(spark, sf_dir)
    welch = REGISTRY["q_welch_ttest"].fn(spark, sf_dir)
    cuped = REGISTRY["q_cuped_adjustment"].fn(spark, sf_dir)
    power = REGISTRY["q_power_mde"].fn(spark, sf_dir)
    sprt = REGISTRY["q_sprt_boundary"].fn(spark, sf_dir)

    def row(metric, df_agg):
        return df_agg.select(
            F.lit(metric).alias("metric"),
            F.col("v").cast("long").alias("value"),
        )

    last_n = sprt.agg(F.max("n_seen").alias("last_n"))
    parts = [
        row(
            "srm_flagged_segments",
            srm.agg(
                F.sum(F.expr("CASE WHEN srm_flag THEN 1 ELSE 0 END")).alias("v")
            ),
        ),
        row("srm_max_chi2_micro", srm.agg(F.max("chi2_micro").alias("v"))),
        row(
            "welch_mean_diff_cents",
            welch.agg(F.round(F.max("mean_diff_cents")).alias("v")),
        ),
        row("welch_t2_micro", welch.agg(F.max("t2_micro").alias("v"))),
        row(
            "cuped_max_var_reduction_ppm",
            cuped.agg(F.max("var_reduction_ppm").alias("v")),
        ),
        row(
            "cuped_min_var_reduction_ppm",
            cuped.agg(F.min("var_reduction_ppm").alias("v")),
        ),
        row(
            "power_max_mde_millicents",
            power.agg(F.max("mde_millicents").alias("v")),
        ),
        row(
            "power_min_rel_mde_ppm",
            power.agg(F.min("rel_mde_ppm").alias("v")),
        ),
        row(
            "sprt_final_llr_mnats",
            sprt.crossJoin(F.broadcast(last_n))
            .filter(F.col("n_seen") == F.col("last_n"))
            .agg(F.max("llr_mnats").alias("v")),
        ),
        row(
            "sprt_decided_checkpoints",
            sprt.agg(
                F.sum(
                    F.expr("CASE WHEN decision <> 'continue' THEN 1 ELSE 0 END")
                ).alias("v")
            ),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
