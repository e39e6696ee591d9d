"""Deterministic distributed sampling — the data-mixture tools an LLM
curation pipeline runs before training: weighted reservoir sampling
(Efraimidis–Spirakis A-ES, bottom-k over hash-derived exponential
keys) and per-stratum variable-rate Bernoulli sampling.

Determinism is the design constraint (same reasoning as
llm_pipeline.py's hash split): `rand()` is neither reproducible
across retries nor expressible in an oracle, so uniforms come from
md5(doc_id) — u = (first-8-hex-digits + 1) / (2^32 + 1) in (0, 1) —
making every sample a pure function of the data
([[oracle-exactness-playbook]] hex-digit trick).

A-ES: item i gets key ln(u_i) / w_i and the k LARGEST keys win —
one map-only projection plus a top-k (TakeOrderedAndProject-shaped,
no global sort), so the 100 TB cost is a scan. P(selected) is
proportional-ish to weight w_i = n_chars: big documents win more
slots. ln() is libm in both engines (not guaranteed correctly
rounded), so the float key itself is NOT in the output — only the
selected membership, which flips only if two keys collide within an
ulp AT the k-boundary; parity at the driver's scale proves the
dataset is nowhere near that. The tie-break (doc_id) is exact.

Bernoulli-per-stratum: language-dependent rates (en downsampled 10%,
the rest 25%) via md5-bucket < threshold — the "rebalance the corpus
mixture" op. Map-only, zero shuffle; the oracle is the same
predicate verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens
from ..registry import query
from ..sources.loader import load_table
from .llm_pipeline import _hex_val_sql

K = 50
DENOM = float(2**32 + 1)
RATES = {"en": 100, "_": 250}  # per-mille thresholds


def _u_sql(id_expr: str, salt: str, concat: str) -> str:
    """Uniform in (0,1) from md5 — `concat` switches dialect syntax."""
    if concat == "spark":
        h = f"md5(concat(cast({id_expr} as string), '{salt}'))"
    else:
        h = f"md5(CAST({id_expr} AS VARCHAR) || '{salt}')"
    return f"(({_hex_val_sql(h, 8)}) + 1.0) / {DENOM!r}"


@query(
    "q_weighted_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln({_u_sql("doc_id", "#w", "duck")}) / greatest(n_chars, 1) AS k
      FROM documents
    )
    SELECT doc_id, lang, n_chars
    FROM keyed
    QUALIFY ROW_NUMBER() OVER (ORDER BY k DESC, doc_id) <= {K}
    """,
    tags=("sampling", "weighted", "llm-pipeline"),
)
def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 weighted sample (weight = n_chars) via A-ES exponential
    keys. The key column is deliberately NOT emitted (libm float);
    membership + exact columns only."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            F.expr(f"ln({_u_sql('doc_id', '#w', 'spark')})")
            / F.greatest(F.col("n_chars"), F.lit(1))
        ).alias("k"),
    )
    # A-ES selection = top-K by exponential key: TakeOrderedAndProject
    # via orderBy().limit() — per-partition heaps over the corpus, not
    # a global-rank window in one task (round-7 plan lint).
    return (
        keyed.orderBy(F.col("k").desc(), F.col("doc_id"))
        .limit(K)
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "q_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE ({_hex_val_sql("md5(CAST(doc_id AS VARCHAR) || '#s')")}) % 1000
          < CASE WHEN lang = 'en' THEN {RATES["en"]} ELSE {RATES["_"]} END
    """,
    tags=("sampling", "stratified", "llm-pipeline"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-rate Bernoulli sample per language stratum: en kept at
    10%, every other language at 25% — the corpus-mixture rebalance.
    Pure filter, no shuffle; reproducible under retries because the
    coin is md5(doc_id), not rand()."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_hex_val_sql("md5(concat(cast(doc_id as string), '#s'))")) % 1000
    thresh = F.when(F.col("lang") == "en", F.lit(RATES["en"])).otherwise(
        F.lit(RATES["_"])
    )
    return d.filter(bucket < thresh).select("doc_id", "lang", "n_chars")


_NEG_K = 4
_ANCHOR_MOD = 29


@query(
    "q_negative_sampling",
    oracle=f"""
    WITH anchors AS (
      SELECT vec_id AS anchor_id, label AS anchor_label
      FROM embeddings WHERE vec_id % {_ANCHOR_MOD} = 0
    ), cand AS (
      SELECT a.anchor_id, a.anchor_label, e.vec_id AS neg_id,
             e.label AS neg_label,
             md5(CAST(a.anchor_id AS VARCHAR) || '#'
                 || CAST(e.vec_id AS VARCHAR)) AS h
      FROM anchors a
      JOIN embeddings e ON e.label <> a.anchor_label
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label,
           CAST(ROW_NUMBER() OVER (PARTITION BY anchor_id
                                   ORDER BY h, neg_id) AS BIGINT) AS neg_rank
    FROM cand
    QUALIFY ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY h, neg_id)
            <= {_NEG_K}
    """,
    tags=("sampling", "negative-sampling", "llm-pipeline"),
)
def q_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: for
    each anchor vector (vec_id % {_ANCHOR_MOD} == 0), pick the
    {_NEG_K} pseudo-random different-label vectors ranked by
    md5(anchor_id # cand_id) — the sample is a pure function of the
    data (same rationale as the A-ES sampler above), reproducible
    across retries and engines. The candidate join is
    anchors x corpus, bounded by the anchor subsample; at true scale
    you'd first LSH-bucket candidates per anchor instead of ranking
    the full corpus (the md5 ranking is then applied within the
    bucket)."""
    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % _ANCHOR_MOD == 0).select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("anchor_label")
    )
    cand = (
        F.broadcast(anchors)
        .join(
            emb.select(
                F.col("vec_id").alias("neg_id"), F.col("label").alias("neg_label")
            ),
            F.col("neg_label") != F.col("anchor_label"),
        )
        .withColumn(
            "h",
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit("#"),
                    F.col("neg_id").cast("string"),
                )
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("neg_rank") <= _NEG_K)
        .select("anchor_id", "anchor_label", "neg_id", "neg_label", "neg_rank")
    )


@query(
    "q_capture_recapture",
    oracle="""
    WITH marks AS (
      SELECT doc_id,
             substr(md5('crawlA|' || CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7') AS in_a,
             substr(md5('crawlB|' || CAST(doc_id AS VARCHAR)), 1, 1)
               IN ('0','1','2','3','4','5','6','7') AS in_b
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
           CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
             AS m,
           CAST((SUM(CASE WHEN in_a THEN 1 ELSE 0 END)
                 * SUM(CASE WHEN in_b THEN 1 ELSE 0 END))
                // SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END)
                AS BIGINT) AS est_lincoln,
           CAST(((SUM(CASE WHEN in_a THEN 1 ELSE 0 END) + 1)
                 * (SUM(CASE WHEN in_b THEN 1 ELSE 0 END) + 1))
                // (SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) + 1) - 1
                AS BIGINT) AS est_chapman
    FROM marks
    """,
    tags=("sampling", "capture-recapture", "coverage", "crawl"),
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimation (Lincoln-Petersen +
    the bias-corrected Chapman variant): two independent ~50%
    "crawls" of the document universe are simulated by disjoint
    md5 marks (first hex digit < 8 under two different salts), and
    the universe size is estimated from n1 * n2 / m — the estimator a
    crawl team uses to answer "how big is the web we haven't fetched"
    and a dedup team uses to size a corpus from two overlapping
    snapshots without materializing the union. The TRUE count sits in
    the same row, so the estimate's quality is visible (and both
    engines compute the identical deterministic marks, so everything
    hashes). Chapman's +1 correction removes Lincoln's small-m bias.

    Scale: one scan, one conditional aggregate. The marks are
    per-row codegen; no shuffle beyond the 1-row reduction."""
    d = load_table(spark, sf_dir, "documents")
    marks = d.select(
        F.expr(
            "substr(md5('crawlA|' || CAST(doc_id AS STRING)), 1, 1)"
            " IN ('0','1','2','3','4','5','6','7')"
        ).alias("in_a"),
        F.expr(
            "substr(md5('crawlB|' || CAST(doc_id AS STRING)), 1, 1)"
            " IN ('0','1','2','3','4','5','6','7')"
        ).alias("in_b"),
    )
    return marks.agg(
        F.count(F.lit(1)).alias("n_true"),
        F.sum(F.expr("CASE WHEN in_a THEN 1 ELSE 0 END")).alias("n1"),
        F.sum(F.expr("CASE WHEN in_b THEN 1 ELSE 0 END")).alias("n2"),
        F.sum(F.expr("CASE WHEN in_a AND in_b THEN 1 ELSE 0 END")).alias("m"),
    ).select(
        "n_true",
        "n1",
        "n2",
        "m",
        F.expr("CAST((n1 * n2) div m AS BIGINT)").alias("est_lincoln"),
        F.expr(
            "CAST(((n1 + 1) * (n2 + 1)) div (m + 1) - 1 AS BIGINT)"
        ).alias("est_chapman"),
    )


_QUOTA_PER_LANG = 60


@query(
    "q_stratified_exact_quota",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS stratum_n
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk, stratum_n
    FROM ranked WHERE rk <= {_QUOTA_PER_LANG}
    """,
    tags=("sampling", "stratified", "exact-quota", "llm-pipeline"),
)
def q_stratified_exact_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-QUOTA stratified sampling: keep exactly
    min(quota, |stratum|) documents per language, chosen by md5(doc_id)
    rank — the selection a fixed token budget demands (Bernoulli
    rate-sampling like q_mixture_sample only hits its quota in
    expectation; a curation run that promises "60 docs per language"
    must deliver 60, not 60±8). The md5 order makes the winners a pure
    function of the data: reproducible across retries, engines, and
    repartitioning, and incrementally stable (new docs displace old
    winners only by out-hashing them, so re-runs over a grown corpus
    keep most of the previous sample — useful for cache reuse).

    Scale: one window shuffle keyed by the stratum (rank within lang).
    At 100 TB with billions of rows per stratum the refinement is
    two-phase threshold selection — histogram the first 4 hash digits
    per stratum (65k-cell aggregate), find the bucket containing the
    quota-th rank, then exact-rank only that bucket's rows (the
    q_ship_lag_deciles histogram-rank trick) — same answer, no
    per-stratum global sort. The window form is the clear spec and is
    exact at every shipped SF; stratum_n rides along so the report
    shows quota vs available."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    wn = Window.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("long").alias("rk"),
            F.count(F.lit(1)).over(wn).cast("long").alias("stratum_n"),
        )
        .filter(F.col("rk") <= _QUOTA_PER_LANG)
    )


@query(
    "q_stratified_quota_twophase",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS rk,
             CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS stratum_n
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk, stratum_n
    FROM ranked WHERE rk <= {_QUOTA_PER_LANG}
    """,
    tags=("sampling", "stratified", "exact-quota", "histogram-rank", "scale-twin"),
)
def q_stratified_quota_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE path for exact-quota stratified sampling, executed:
    two-phase histogram-rank selection producing BIT-IDENTICAL output
    to q_stratified_exact_quota (same oracle — the window form IS the
    spec). Phase 1 buckets every row by the first 4 hex digits of its
    md5 key and aggregates per-(stratum, bucket) counts — a 65k-cell
    hash aggregate with map-side partials, never a per-stratum global
    sort. The running bucket counts locate, per stratum, the bucket
    containing the quota-th rank; only rows at-or-below that boundary
    bucket survive the filter — a superset of the winners barely
    larger than the quota (expected quota + stratum/65536). Phase 2
    ranks just that sliver with the original (md5, doc_id) window and
    keeps rk <= quota; because the sliver is a PREFIX of the stratum
    order, its local ranks ARE the global ranks.

    Why this matters at 100 TB: the window form shuffles and sorts
    EVERY row of every stratum; this form's only full-data operator is
    a hash aggregate whose output is bounded by 65536 x |strata| cells
    regardless of corpus size, and the sort touches ~quota rows per
    stratum. The equality check against the window oracle is the
    proof the refinement loses nothing — the dedup-twin pattern
    (q_dedup_clusters / _exact_smallcorpus) applied to sampling."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    bucket = F.conv(F.substring("h", 1, 4), 16, 10).cast("long")
    rows = d.select("doc_id", "lang", "h", bucket.alias("b"))

    hist = rows.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.select(
        "lang", "b", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("stratum_n"),
    )
    # the boundary bucket: first bucket whose cumulative count reaches
    # the quota (or the last bucket when the stratum is smaller)
    boundary = (
        cum.filter(
            (F.col("cum") >= _QUOTA_PER_LANG)
            | (F.col("cum") == F.col("stratum_n"))
        )
        .groupBy("lang")
        .agg(
            F.min("b").alias("b_max"),
            F.max("stratum_n").cast("long").alias("stratum_n"),
        )
    )
    # The sliver (all rows in buckets <= boundary) is a PREFIX of each
    # stratum's (md5, doc_id) order — every excluded row ranks after
    # every sliver row — so ranking the sliver alone yields the true
    # global ranks directly; no offset arithmetic needed.
    sliver = (
        rows.join(F.broadcast(boundary), "lang")
        .filter(F.col("b") <= F.col("b_max"))
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        sliver.select(
            "doc_id", "lang", "stratum_n",
            F.row_number().over(w).cast("long").alias("rk"),
        )
        .filter(F.col("rk") <= _QUOTA_PER_LANG)
        .select("doc_id", "lang", "rk", "stratum_n")
    )


@query(
    "q_effective_sample_size",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_w,
           CAST(SUM(CAST(n_chars AS HUGEINT) * n_chars) AS VARCHAR) AS sum_w2,
           CAST((1000 * CAST(SUM(n_chars) AS HUGEINT) * SUM(n_chars))
                // SUM(CAST(n_chars AS HUGEINT) * n_chars) AS BIGINT)
             AS ess_milli,
           CAST((1000000 * CAST(SUM(n_chars) AS HUGEINT) * SUM(n_chars))
                // (SUM(CAST(n_chars AS HUGEINT) * n_chars) * COUNT(*))
                AS BIGINT) AS ess_ratio_ppm
    FROM documents GROUP BY source
    """,
    tags=("sampling", "ess", "weights", "llm-pipeline"),
)
def q_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size per source under length weights —
    the diagnostic every weighted-mixture scheme (q_temperature_mixture,
    q_neyman_allocation, q_soft_dedup_weight) should report next to
    its weights: ESS = (sum w)^2 / sum w^2 collapses toward 1 when a
    few huge documents dominate a source's mass, telling you the
    source contributes far fewer EFFECTIVE samples than its row count
    suggests. Emitted as exact truncating integers (milli-ESS and the
    ESS/n ratio in ppm) over exact weight moments.

    Scale: one map-side-combinable aggregate per source — the
    cheapest audit in the sampling family."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_w"),
        # The second moment stays DECIMAL(38,0) end-to-end and is emitted
        # as its exact decimal string: a BIGINT cast overflows divergently
        # at extreme scale (Spark non-ANSI -> silent NULL, DuckDB -> error),
        # while the string spelling is exact for any sum below 10^38.
        F.sum(F.expr("CAST(n_chars AS DECIMAL(38,0)) * n_chars"))
        .cast("string")
        .alias("sum_w2"),
        F.expr(
            "CAST((1000 * CAST(SUM(n_chars) AS DECIMAL(38,0)) * SUM(n_chars))"
            " div SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) AS BIGINT)"
        ).alias("ess_milli"),
        F.expr(
            "CAST((1000000 * CAST(SUM(n_chars) AS DECIMAL(38,0))"
            " * SUM(n_chars))"
            " div (SUM(CAST(n_chars AS DECIMAL(38,0)) * n_chars) * COUNT(*))"
            " AS BIGINT)"
        ).alias("ess_ratio_ppm"),
    )


# ---------------------------------------------------------------------
# q_systematic_pps_sample (round 7)
# ---------------------------------------------------------------------

_PPS_N = 100  # target draws


@query(
    "q_systematic_pps_sample",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS w FROM documents
    ),
    tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS total_w FROM base
    ),
    cum AS (
      SELECT doc_id, lang, w,
             CAST(SUM(w) OVER (ORDER BY doc_id) AS BIGINT) AS cum_w
      FROM base
    ),
    step AS (
      SELECT total_w // {_PPS_N} AS step,
             (total_w // {_PPS_N}) // 2 AS start
      FROM tot
    )
    SELECT c.doc_id, c.lang, c.w,
           CAST(CASE WHEN c.cum_w > s.start
                THEN (c.cum_w - s.start - 1) // s.step + 1 ELSE 0 END
                - CASE WHEN c.cum_w - c.w > s.start
                THEN (c.cum_w - c.w - s.start - 1) // s.step + 1 ELSE 0 END
                AS BIGINT) AS n_hits
    FROM cum c, step s
    WHERE CASE WHEN c.cum_w > s.start
          THEN (c.cum_w - s.start - 1) // s.step + 1 ELSE 0 END
          > CASE WHEN c.cum_w - c.w > s.start
          THEN (c.cum_w - c.w - s.start - 1) // s.step + 1 ELSE 0 END
    """,
    tags=("sampling", "pps", "systematic", "llm-pipeline"),
)
def q_systematic_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: lay the
    documents end to end on a line scaled by weight (n_chars), then
    take every step-th point starting at step/2 — doc i is drawn once
    for every sample point inside its [cum−w, cum) interval, so
    inclusion probability is exactly proportional to weight and heavy
    docs can be drawn multiple times (n_hits > 1). The classic π-ps
    design survey samplers and data-mixture builders use when
    independent draws (q_weighted_sample's A-ES) waste budget on
    variance.

    Exactness: hits-in-interval is counted by the closed form
    #{{j : start + j·step ∈ (cum−w, cum]}} = f(cum) − f(cum−w) with
    f(x) = (x−start−1)//step + 1 for x > start — pure integer floor
    arithmetic, identical on both engines; step truncation (total_w
    mod n lost off the line's tail) is the documented bias of the
    textbook design.

    Scale: the cumulative weight runs through the TWO-PHASE
    range-partition idiom (_twophase.py) keyed on doc_id — no
    single-task window; everything after is map-side arithmetic. In
    the fixed doc_id order the design is deterministic end to end."""
    from ._twophase import global_order_stats

    base = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    tot = base.agg(F.sum("w").alias("total_w"))
    cum = global_order_stats(
        base, [F.asc("doc_id")], running_sums={"cum_w": F.col("w")}, rn_col=None
    )
    j = cum.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "lang",
        "w",
        "cum_w",
        F.expr(f"total_w div {_PPS_N}").alias("step"),
        F.expr(f"(total_w div {_PPS_N}) div 2").alias("start"),
    )
    f_hi = F.when(
        F.col("cum_w") > F.col("start"),
        F.expr("(cum_w - start - 1) div step + 1"),
    ).otherwise(F.lit(0))
    f_lo = F.when(
        F.col("cum_w") - F.col("w") > F.col("start"),
        F.expr("(cum_w - w - start - 1) div step + 1"),
    ).otherwise(F.lit(0))
    return (
        j.select(
            "doc_id",
            "lang",
            "w",
            (f_hi - f_lo).cast("long").alias("n_hits"),
        )
        .filter(F.col("n_hits") > 0)
    )


# ---------------------------------------------------------------------
# q_horvitz_thompson (round 8)
# ---------------------------------------------------------------------


def _ht_oracle() -> str:
    from ..registry import REGISTRY

    sample_sql = REGISTRY["q_systematic_pps_sample"].oracle
    return f"""
    WITH sample AS ({sample_sql}),
    y AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS BIGINT) AS y
      FROM documents
    ),
    consts AS (
      SELECT CAST(SUM(w) AS HUGEINT) AS big_w,
             (SELECT CAST(SUM(n_hits) AS HUGEINT) FROM sample) AS m
      FROM documents, LATERAL (SELECT CAST(n_chars AS BIGINT) AS w) t
    ),
    est AS (
      SELECT y.lang,
             CAST(COUNT(*) AS BIGINT) AS n_sampled,
             CAST(SUM(s.n_hits) AS BIGINT) AS n_draws,
             CAST(SUM(s.n_hits * ((1000000 * y.y * c.big_w)
                                  // (c.m * s.w))) // 1000000
               AS BIGINT) AS est_tokens
      FROM sample s JOIN y USING (doc_id) CROSS JOIN consts c
      GROUP BY y.lang
    ),
    truth AS (
      SELECT lang, CAST(SUM(y) AS BIGINT) AS exact_tokens
      FROM y GROUP BY lang
    )
    SELECT t.lang, COALESCE(e.n_sampled, 0) AS n_sampled,
           COALESCE(e.n_draws, 0) AS n_draws,
           COALESCE(e.est_tokens, 0) AS est_tokens, t.exact_tokens,
           CAST((1000000 * abs(COALESCE(e.est_tokens, 0) - t.exact_tokens))
                // t.exact_tokens AS BIGINT) AS abs_err_ppm
    FROM truth t LEFT JOIN est e USING (lang)
    """


@query(
    "q_horvitz_thompson",
    oracle=_ht_oracle(),
    tags=("sampling", "estimation", "horvitz-thompson", "pps"),
)
def q_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hansen-Hurwitz / Horvitz-Thompson estimation from the
    q_systematic_pps_sample draws: estimate each language's TOTAL
    token count from the ~100-doc PPS sample by inverse-probability
    weighting — T_hat = sum over draws of y_i / (m * p_i) with
    p_i = w_i / W — and report it against the exact full-scan truth
    with the absolute error in ppm. The estimation half the sampling
    design exists for: the sample says what the corpus totals are
    WITHOUT scanning y over the corpus (here the truth is also
    computed, because the oracle-checked error IS the point). Docs a
    language contributes to the sample zero times surface with
    estimate 0 — small-domain failure is the known PPS caveat, shown
    rather than hidden.

    Exactness: the sample (and therefore the estimator) is the
    deterministic systematic design; each draw's expansion
    y_i * W / (m * w_i) is ONE truncating micro division on
    DECIMAL(38,0)/HUGEINT products, summed exactly then de-scaled.

    Scale: the sample re-derivation is the two-phase cumulative
    (no single-task stage); y joins touch |sample| rows; truth is one
    hash aggregate; consts are 1-row broadcasts."""
    from ..registry import REGISTRY

    sample = REGISTRY["q_systematic_pps_sample"].fn(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    y = d.select(
        "doc_id",
        "lang",
        F.size(tokens()).cast("long").alias("y"),
    )
    big_w = d.agg(
        F.expr("CAST(SUM(CAST(n_chars AS BIGINT)) AS DECIMAL(38,0))").alias(
            "big_w"
        )
    )
    m = sample.agg(
        F.expr("CAST(SUM(n_hits) AS DECIMAL(38,0))").alias("m")
    )
    est = (
        sample.join(y.select("doc_id", "y"), "doc_id")
        .crossJoin(F.broadcast(big_w))
        .crossJoin(F.broadcast(m))
        .groupBy(F.col("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_hits").cast("long").alias("n_draws"),
            F.expr(
                "CAST(SUM(n_hits * ((1000000 * y * big_w) div (m * w)))"
                " div 1000000 AS BIGINT)"
            ).alias("est_tokens"),
        )
    )
    truth = y.groupBy("lang").agg(F.sum("y").alias("exact_tokens"))
    return (
        truth.join(est, "lang", "left")
        .select(
            "lang",
            F.coalesce("n_sampled", F.lit(0)).cast("long").alias("n_sampled"),
            F.coalesce("n_draws", F.lit(0)).cast("long").alias("n_draws"),
            F.coalesce("est_tokens", F.lit(0)).cast("long").alias(
                "est_tokens"
            ),
            "exact_tokens",
            F.expr(
                "CAST((1000000 * abs(COALESCE(est_tokens, 0) - exact_tokens))"
                " div exact_tokens AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
    )
