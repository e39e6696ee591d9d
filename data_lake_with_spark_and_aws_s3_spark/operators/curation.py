"""Published-method corpus-curation operators: the Gopher quality-rule
battery, soft-dedup down-weighting, DSIR-style discriminative n-gram
data selection, and per-source marginal-novelty attribution.

These are the document-level *selection* passes a training-data
pipeline runs between raw ingestion and tokenization — complementing
the repo's dedup (operators/neardup.py, operators/corpus.py), LM
quality gates (operators/retrieval.py), and mixture/quota samplers
(operators/llm_pipeline.py).

Methods re-expressed from public papers:
- Gopher rules: Rae et al. 2021 ("Scaling Language Models..."),
  Appendix A quality heuristics. Bounds adapted to this corpus's
  short synthetic documents where noted; every rule is exact integer
  cross-multiplication, no floats in a predicate.
- Soft dedup: down-weight-instead-of-drop (the SlimPajama /
  deduplicate-then-reweight idea): weight = 1/multiplicity so each
  distinct text contributes unit mass however often it was crawled.
- DSIR: Xie et al. 2023 ("Data Selection for Language Models via
  Importance Resampling") — importance weight = log p_target(x) -
  log p_raw(x) under cheap hashed n-gram LMs. Here the two bigram
  models are add-one-smoothed counts; per-bigram log terms are
  quantized to integer micro-nats BEFORE the order-independent sum
  (same libm-drift treatment as q_entropy_profile / q_psi_drift).
- Novelty attribution: the marginal-value-of-data curve (how many
  8-grams does each source contribute FIRST?) used when deciding
  which sources to keep crawling.

Scale notes (100 TB): every operator is explode -> keyed hash
aggregate -> keyed equi-join; shuffle volume is bounded by token /
gram counts with map-side partial aggregation, never by |docs|^2.
Model/stat tables (bigram counts, source order) broadcast. The only
windows are per-key; there is no global single-partition stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import shingle_set, tokens, words
from ..registry import query
from ..sources.loader import fan_out, load_table
from .text import _SW_SQL, _STOPWORDS

# --- Gopher quality-rule battery -------------------------------------

# Rae et al. bounds, adapted where the synthetic corpus sits outside
# the web-scale envelope: word-count lower bound 10 (paper: 50 — the
# fixtures cap near 100 words, so 50 would veto half the corpus for
# length alone and hide failures of the OTHER rules); the rest are the
# published constants: mean word length in [3, 10], >= 2 distinct
# stopwords, >= 80% alphabetic words, most-frequent token <= 30%.
_G_MIN_WORDS, _G_MAX_WORDS = 10, 100_000
_G_MWL_LO, _G_MWL_HI = 3, 10
_G_MIN_STOP = 2
# alpha ratio >= 0.8  <=>  5 * n_alpha_words >= 4 * n_words
# top token share <= 0.3  <=>  10 * max_tf <= 3 * n_words


@query(
    "q_gopher_rules",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
             CAST(COUNT(DISTINCT CASE WHEN tok IN ({_SW_SQL}) THEN tok END)
                  AS BIGINT) AS n_stop_distinct,
             CAST(SUM(CASE WHEN regexp_matches(tok, '[a-z]') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_alpha_words
      FROM tok GROUP BY doc_id
    ),
    top_tf AS (
      SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS max_tf FROM (
        SELECT doc_id, tok, COUNT(*) AS cnt FROM tok GROUP BY doc_id, tok
      ) GROUP BY doc_id
    )
    SELECT p.doc_id, p.n_words,
           (p.n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS}) AS word_count_ok,
           (p.n_chars >= {_G_MWL_LO} * p.n_words
            AND p.n_chars <= {_G_MWL_HI} * p.n_words) AS mean_word_len_ok,
           (p.n_stop_distinct >= {_G_MIN_STOP}) AS stopword_ok,
           (5 * p.n_alpha_words >= 4 * p.n_words) AS alpha_ratio_ok,
           (10 * t.max_tf <= 3 * p.n_words) AS top_token_ok,
           ((p.n_words BETWEEN {_G_MIN_WORDS} AND {_G_MAX_WORDS})
            AND p.n_chars >= {_G_MWL_LO} * p.n_words
            AND p.n_chars <= {_G_MWL_HI} * p.n_words
            AND p.n_stop_distinct >= {_G_MIN_STOP}
            AND 5 * p.n_alpha_words >= 4 * p.n_words
            AND 10 * t.max_tf <= 3 * p.n_words) AS keep
    FROM per_doc p JOIN top_tf t ON p.doc_id = t.doc_id
    """,
    tags=("curation", "quality", "gopher", "llm-pipeline"),
)
def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule battery (Rae et al. 2021, App. A):
    per-document booleans for word count, mean word length, distinct
    stopwords, alphabetic-word ratio, and most-frequent-token share,
    plus the conjunctive keep flag.

    Every predicate is an integer cross-multiplication (5*alpha >=
    4*words, 10*max_tf <= 3*words, ...) — no ratio is ever a float,
    so Spark and DuckDB agree bit-for-bit at any scale factor.

    Plan: the HOF features are map-side on the scan; only the
    most-frequent-token rule needs a (doc, token) aggregate — one
    shuffle keyed by doc_id with map-side combine, then an equi-join
    back (both sides already hashed on doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_words = F.size(toks).cast("long")
    n_chars = F.aggregate(
        F.transform(toks, lambda x: F.length(x).cast("long")),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    n_stop_distinct = F.size(
        F.array_distinct(F.filter(toks, lambda x: x.isin(*_STOPWORDS)))
    ).cast("long")
    n_alpha = F.size(F.filter(toks, lambda x: x.rlike("[a-z]"))).cast("long")
    feats = d.select(
        "doc_id",
        n_words.alias("n_words"),
        n_chars.alias("n_chars"),
        n_stop_distinct.alias("n_stop_distinct"),
        n_alpha.alias("n_alpha_words"),
    )
    top_tf = (
        d.select("doc_id", F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("max_tf"))
    )
    j = feats.join(top_tf, "doc_id")
    word_count_ok = F.col("n_words").between(_G_MIN_WORDS, _G_MAX_WORDS)
    mwl_ok = (F.col("n_chars") >= _G_MWL_LO * F.col("n_words")) & (
        F.col("n_chars") <= _G_MWL_HI * F.col("n_words")
    )
    stop_ok = F.col("n_stop_distinct") >= _G_MIN_STOP
    alpha_ok = 5 * F.col("n_alpha_words") >= 4 * F.col("n_words")
    top_ok = 10 * F.col("max_tf") <= 3 * F.col("n_words")
    return j.select(
        "doc_id",
        "n_words",
        word_count_ok.alias("word_count_ok"),
        mwl_ok.alias("mean_word_len_ok"),
        stop_ok.alias("stopword_ok"),
        alpha_ok.alias("alpha_ratio_ok"),
        top_ok.alias("top_token_ok"),
        (word_count_ok & mwl_ok & stop_ok & alpha_ok & top_ok).alias("keep"),
    )


# --- Soft dedup: down-weight instead of drop -------------------------

@query(
    "q_soft_dedup_weight",
    oracle="""
    WITH grp AS (
      SELECT doc_id, md5(text) AS digest,
             CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS multiplicity,
             CAST(MIN(doc_id) OVER (PARTITION BY md5(text)) AS BIGINT)
               AS canonical_id
      FROM documents
    )
    SELECT doc_id, multiplicity,
           CAST(1000000 // multiplicity AS BIGINT) AS weight_ppm,
           (doc_id = canonical_id) AS is_canonical
    FROM grp
    """,
    tags=("curation", "dedup", "soft-dedup", "llm-pipeline"),
)
def q_soft_dedup_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication: instead of DROPPING exact duplicates
    (q_dedup_md5), keep every row but assign a sampling weight of
    1/multiplicity ppm so each distinct text contributes unit mass to
    training however many times it was crawled — the
    down-weight-don't-discard variant used when duplication count is
    itself a signal. is_canonical marks the min-doc_id representative
    (the row q_dedup_md5 would have kept).

    Plan: one digest window partitioned by md5(text) — a keyed
    shuffle identical in shape to the hard-dedup groupBy; weight is a
    truncating integer division (exact both engines)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window as W

    w = W.partitionBy(F.md5("text"))
    return d.select(
        "doc_id",
        F.count(F.lit(1)).over(w).cast("long").alias("multiplicity"),
        F.count(F.lit(1)).over(w).cast("long").alias("_m"),
        F.min("doc_id").over(w).alias("_canon"),
    ).select(
        "doc_id",
        "multiplicity",
        F.expr("CAST(1000000 div _m AS BIGINT)").alias("weight_ppm"),
        (F.col("doc_id") == F.col("_canon")).alias("is_canonical"),
    )


# --- DSIR-style discriminative bigram selection ----------------------

# Target domain: the non-English slice (the minority class — selecting
# FOR it is the interesting direction; selecting for the majority is
# nearly a no-op). Raw model: the whole corpus.
_DSIR_TARGET_SQL = "lang <> 'en'"


def _r6(x: str) -> str:
    """round(1e6 * ln(x)) — micro-nat quantization of a log over an
    exact integer argument (identical spelling both dialects)."""
    return f"CAST(ROUND(1000000 * LN({x})) AS BIGINT)"


@query(
    "q_dsir_select",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    big AS (
      SELECT doc_id, lang,
             array_to_string(list_slice(toks, i, i + 1), ' ') AS bg
      FROM (
        SELECT doc_id, lang, toks,
               unnest(generate_series(1, len(toks) - 1)) AS i
        FROM t
      )
    ),
    tgt AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS ct FROM big
      WHERE {_DSIR_TARGET_SQL} GROUP BY bg
    ),
    raw AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS cr FROM big GROUP BY bg
    ),
    consts AS (
      SELECT CAST(COUNT(DISTINCT bg) AS BIGINT) AS v,
             CAST(SUM(CASE WHEN {_DSIR_TARGET_SQL} THEN 1 ELSE 0 END)
                  AS BIGINT) AS tt,
             CAST(COUNT(*) AS BIGINT) AS tr
      FROM big
    ),
    wtab AS (
      SELECT raw.bg,
             {_r6("COALESCE(tgt.ct, 0) + 1")} - {_r6("raw.cr + 1")}
               + {_r6("consts.tr + consts.v")} - {_r6("consts.tt + consts.v")}
               AS w_micro
      FROM raw LEFT JOIN tgt ON raw.bg = tgt.bg CROSS JOIN consts
    )
    SELECT big.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(wtab.w_micro) AS BIGINT) AS score_micronat,
           (SUM(wtab.w_micro) > 0) AS selected
    FROM big JOIN wtab ON big.bg = wtab.bg
    GROUP BY big.doc_id
    """,
    tags=("curation", "dsir", "importance-sampling", "llm-pipeline"),
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): importance weight
    of a document = log p_target(doc) - log p_raw(doc) under two
    cheap add-one-smoothed bigram models (target = the non-English
    slice, raw = the full corpus); documents whose weight is positive
    look more like the target domain than like the crawl average and
    get selected.

    Exactness: each model's log term is LN over an EXACT integer
    ((count+1), (total+V)), quantized to micro-nats per bigram before
    the order-independent integer sum — the shared-integer-argument
    treatment of q_entropy_profile / q_psi_drift, so libm agreement
    is on identical doubles. The two (total+V) normalizers fold into
    one global constant added per bigram occurrence.

    Plan: bigram explode is map-side; the two model tables are
    (bigram -> count) hash aggregates with map-side combine; scoring
    is one equi-join keyed on bigram (shuffle ~ bigram occurrences,
    never |docs|^2) and one per-doc aggregate. The 3-scalar constants
    row broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    # guard: F.sequence with start > stop DESCENDS — a <2-token doc
    # must be filtered out, not fed a negative stop
    big = d.filter(F.size(toks) >= 2).select(
        "doc_id",
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
                ),
            )
        ).alias("bg"),
    )
    is_tgt = F.expr(_DSIR_TARGET_SQL)
    raw = big.groupBy("bg").agg(
        F.count(F.lit(1)).alias("cr"),
        F.sum(is_tgt.cast("long")).alias("ct"),
    )
    consts = big.agg(
        F.countDistinct("bg").alias("v"),
        F.sum(is_tgt.cast("long")).alias("tt"),
        F.count(F.lit(1)).alias("tr"),
    )

    def r6(col):
        return F.round(1_000_000 * F.ln(col)).cast("long")

    wtab = raw.crossJoin(F.broadcast(consts)).select(
        "bg",
        (
            r6(F.col("ct") + 1)
            - r6(F.col("cr") + 1)
            + r6(F.col("tr") + F.col("v"))
            - r6(F.col("tt") + F.col("v"))
        ).alias("w_micro"),
    )
    return (
        big.join(wtab, "bg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("w_micro").alias("score_micronat"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "score_micronat",
            (F.col("score_micronat") > 0).alias("selected"),
        )
    )


# --- Per-source marginal novelty -------------------------------------

_NOV_N = 8  # token n-gram width, matching the decontamination family


@query(
    "q_ngram_novelty",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             array_to_string(list_slice(toks, i, i + {_NOV_N - 1}), ' ') AS g
      FROM (
        SELECT doc_id, source, toks,
               unnest(generate_series(1, len(toks) - {_NOV_N - 1})) AS i
        FROM t
      )
    ),
    first_src AS (
      SELECT g, MIN(source) AS novel_src FROM grams GROUP BY g
    )
    SELECT grams.source,
           CAST(COUNT(*) AS BIGINT) AS n_gram_occurrences,
           CAST(COUNT(DISTINCT CASE WHEN first_src.novel_src = grams.source
                                    THEN grams.g END) AS BIGINT) AS n_novel_grams,
           CAST(COUNT(DISTINCT grams.g) AS BIGINT) AS n_distinct_grams
    FROM grams JOIN first_src ON grams.g = first_src.g
    GROUP BY grams.source
    """,
    tags=("curation", "novelty", "ngram", "llm-pipeline"),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marginal-novelty attribution: for each source, how many of the
    corpus's distinct {_NOV_N}-grams does it own FIRST (ownership =
    lexicographically smallest source name containing the gram — a
    deterministic stand-in for crawl order)? The curve of novel grams
    per source is the keep-crawling-this-source signal; a source whose
    grams are all owned elsewhere adds volume, not content.

    Plan: gram explode map-side (array slice HOF, no self-joins);
    gram -> min(source) hash aggregate (map-side combine bounds the
    shuffle by |distinct grams|); one equi-join back on gram; final
    per-source aggregate. The DuckDB oracle builds the same grams via
    positional self-joins — quadratic-free (equi on doc_id, i+k)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    # same descending-sequence guard as q_dsir_select
    grams = d.filter(F.size(toks) >= _NOV_N).select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - _NOV_N),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(toks, i + k + 1) for k in range(_NOV_N)],
                ),
            )
        ).alias("g"),
    )
    first_src = grams.groupBy("g").agg(F.min("source").alias("novel_src"))
    return (
        grams.join(first_src, "g")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_gram_occurrences"),
            F.countDistinct(
                F.when(F.col("novel_src") == F.col("source"), F.col("g"))
            ).alias("n_novel_grams"),
            F.countDistinct("g").alias("n_distinct_grams"),
        )
    )


# Exact integer sqrt: FLOOR(SQRT(n)) from the correctly-rounded double
# sqrt can be off by one at worst; one CASE correction pins it in both
# engines (dialect-shared SQL).
def _isqrt_sql(n: str) -> str:
    s0 = f"CAST(FLOOR(SQRT(CAST({n} AS DOUBLE))) AS BIGINT)"
    return (
        f"(CASE WHEN ({s0} + 1) * ({s0} + 1) <= {n} THEN {s0} + 1"
        f" WHEN {s0} * {s0} > {n} THEN {s0} - 1 ELSE {s0} END)"
    )


@query(
    "q_temperature_mixture",
    oracle=f"""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, {_isqrt_sql("n_docs")} AS w
      FROM src
    )
    SELECT source, n_docs, w,
           CAST((1000000 * n_docs) // (SUM(n_docs) OVER ()) AS BIGINT)
             AS raw_ppm,
           CAST((1000000 * w) // (SUM(w) OVER ()) AS BIGINT)
             AS quota_ppm
    FROM w
    """,
    tags=("curation", "mixture", "temperature", "llm-pipeline"),
)
def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) mixture quotas per source: the
    standard up-weighting of small sources when mixing corpora —
    sampling weight proportional to sqrt(n_s) instead of n_s. sqrt is
    the EXACT integer square root (floor-sqrt from the double sqrt
    with a one-step CASE correction, identical in both engines), so
    raw and temperature shares are both truncating integer ppm and the
    whole surface hashes.

    Scale: one source-keyed count aggregate; everything after runs on
    the |sources|-row table (OVER () totals included)."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    w = src.withColumn("w", F.expr(_isqrt_sql("n_docs")))
    return w.select(
        "source",
        "n_docs",
        "w",
        F.expr(
            "CAST((1000000 * n_docs) div (sum(n_docs) OVER ()) AS BIGINT)"
        ).alias("raw_ppm"),
        F.expr(
            "CAST((1000000 * w) div (sum(w) OVER ()) AS BIGINT)"
        ).alias("quota_ppm"),
    )


@query(
    "q_post_stratification",
    oracle="""
    WITH cell AS (
      SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY lang, source
    ),
    lm AS (
      SELECT lang, CAST(SUM(n) AS BIGINT) AS lang_total,
             CAST(SUM(SUM(n)) OVER () AS BIGINT) AS grand_total,
             CAST(COUNT(*) OVER () AS BIGINT) AS n_langs
      FROM cell GROUP BY lang
    )
    SELECT cell.lang, cell.source, cell.n, lm.lang_total,
           CAST((1000000 * lm.grand_total)
                // (lm.n_langs * lm.lang_total) AS BIGINT) AS weight_ppm,
           CAST(cell.n * ((1000000 * lm.grand_total)
                // (lm.n_langs * lm.lang_total)) AS BIGINT)
             AS weighted_microdocs
    FROM cell JOIN lm USING (lang)
    """,
    tags=("curation", "reweighting", "post-stratification", "llm-pipeline"),
)
def q_post_stratification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratification reweighting of the (lang, source) grid to a
    UNIFORM language target: every document in language L carries
    weight target_share / actual_share = grand_total / (n_langs *
    lang_total), held as truncating integer ppm, plus each cell's
    resulting weighted mass in exact micro-docs — the standard
    marginal-correction step before mixing or evaluating a skewed
    corpus.

    Scale: one (lang, source) hash aggregate; the marginal windows run
    on the |langs| x |sources| grid, not the corpus."""
    d = load_table(spark, sf_dir, "documents")
    cell = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    lm = cell.groupBy("lang").agg(F.sum("n").alias("lang_total")).select(
        "lang",
        "lang_total",
        F.expr("CAST(sum(lang_total) OVER () AS BIGINT)").alias(
            "grand_total"
        ),
        F.expr("CAST(count(*) OVER () AS BIGINT)").alias("n_langs"),
    )
    return cell.join(F.broadcast(lm), "lang").select(
        "lang",
        "source",
        "n",
        "lang_total",
        F.expr(
            "CAST((1000000 * grand_total) div (n_langs * lang_total)"
            " AS BIGINT)"
        ).alias("weight_ppm"),
        F.expr(
            "CAST(n * ((1000000 * grand_total) div (n_langs * lang_total))"
            " AS BIGINT)"
        ).alias("weighted_microdocs"),
    )


@query(
    "q_submodular_coverage",
    oracle="""
    WITH ds AS MATERIALIZED (
      SELECT DISTINCT doc_id, sh FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(0, greatest(len(toks) - 3, 0)),
                 i -> array_to_string(toks[i+1:i+4], ' ')))) AS sh
        FROM (SELECT doc_id, string_split(text, ' ') AS toks
              FROM documents)
        WHERE len(toks) >= 4
      )
    ),
    g1 AS (
      SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds 
      
      GROUP BY ds.doc_id
    ),
    s1 AS MATERIALIZED (
      SELECT doc_id, gain FROM g1 ORDER BY gain DESC, doc_id LIMIT 1
    ),
    c1 AS MATERIALIZED (
      SELECT DISTINCT sh FROM ds
      WHERE doc_id IN (SELECT doc_id FROM s1)
    ),
    g2 AS (
      SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds ANTI JOIN c1 ON c1.sh = ds.sh
      WHERE ds.doc_id NOT IN (SELECT doc_id FROM s1)
      GROUP BY ds.doc_id
    ),
    s2 AS MATERIALIZED (
      SELECT doc_id, gain FROM g2 ORDER BY gain DESC, doc_id LIMIT 1
    ),
    c2 AS MATERIALIZED (
      SELECT sh FROM c1
      UNION
      SELECT sh FROM ds WHERE doc_id IN (SELECT doc_id FROM s2)
    ),
    g3 AS (
      SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds ANTI JOIN c2 ON c2.sh = ds.sh
      WHERE ds.doc_id NOT IN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2)
      GROUP BY ds.doc_id
    ),
    s3 AS MATERIALIZED (
      SELECT doc_id, gain FROM g3 ORDER BY gain DESC, doc_id LIMIT 1
    ),
    c3 AS MATERIALIZED (
      SELECT sh FROM c2
      UNION
      SELECT sh FROM ds WHERE doc_id IN (SELECT doc_id FROM s3)
    ),
    g4 AS (
      SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds ANTI JOIN c3 ON c3.sh = ds.sh
      WHERE ds.doc_id NOT IN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM s3)
      GROUP BY ds.doc_id
    ),
    s4 AS MATERIALIZED (
      SELECT doc_id, gain FROM g4 ORDER BY gain DESC, doc_id LIMIT 1
    ),
    c4 AS MATERIALIZED (
      SELECT sh FROM c3
      UNION
      SELECT sh FROM ds WHERE doc_id IN (SELECT doc_id FROM s4)
    ),
    g5 AS (
      SELECT ds.doc_id, CAST(COUNT(*) AS BIGINT) AS gain
      FROM ds ANTI JOIN c4 ON c4.sh = ds.sh
      WHERE ds.doc_id NOT IN (SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2 UNION ALL SELECT doc_id FROM s3 UNION ALL SELECT doc_id FROM s4)
      GROUP BY ds.doc_id
    ),
    s5 AS MATERIALIZED (
      SELECT doc_id, gain FROM g5 ORDER BY gain DESC, doc_id LIMIT 1
    ),
    c5 AS MATERIALIZED (
      SELECT sh FROM c4
      UNION
      SELECT sh FROM ds WHERE doc_id IN (SELECT doc_id FROM s5)
    )
    SELECT CAST(1 AS BIGINT) AS step, doc_id, gain, (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS covered_total FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS step, doc_id, gain, (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) AS covered_total FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT) AS step, doc_id, gain, (SELECT CAST(COUNT(*) AS BIGINT) FROM c3) AS covered_total FROM s3
    UNION ALL
    SELECT CAST(4 AS BIGINT) AS step, doc_id, gain, (SELECT CAST(COUNT(*) AS BIGINT) FROM c4) AS covered_total FROM s4
    UNION ALL
    SELECT CAST(5 AS BIGINT) AS step, doc_id, gain, (SELECT CAST(COUNT(*) AS BIGINT) FROM c5) AS covered_total FROM s5
    """,
    tags=("curation", "submodular", "coverage", "data-selection"),
)
def q_submodular_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular max-coverage selection, k = 5: pick the
    document covering the most 4-gram shingles, remove its shingles,
    repeat — the (1 - 1/e)-approximate coreset selector behind
    diversity-first data curation (complement of q_kcenter_select's
    geometric coverage). Ties break on doc_id, so the greedy
    trajectory (step, doc, marginal gain, cumulative coverage) is
    deterministic and hash-checked against the identical chained
    computation in the oracle.

    Scale: each round is one anti-join of the shingle table against
    the covered set (equi on shingle) + one gain aggregate + a
    TakeOrdered(1) — all keyed shuffles over a set that only shrinks;
    localCheckpoint pins each round's covered set so round plans stay
    O(1) deep. k is a constant of the operator."""
    # r8: scan fan-out + zip-form shingles (identical values)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select("doc_id", words().alias("tk"))
    shingles = shingle_set(F.col("tk"), 4)
    ds = (
        tk.filter(F.size("tk") >= 4)
        .select("doc_id", F.explode(shingles).alias("sh"))
        .localCheckpoint()  # root of every greedy round
    )
    covered = None
    selected_ids = None
    out = []
    for step in range(1, 5 + 1):
        pool = ds if covered is None else ds.join(covered, "sh", "left_anti")
        if selected_ids is not None:
            pool = pool.join(selected_ids, "doc_id", "left_anti")
        gains = pool.groupBy("doc_id").agg(F.count(F.lit(1)).alias("gain"))
        sel = (
            gains.orderBy(F.desc("gain"), "doc_id")
            .limit(1)
            .localCheckpoint()
        )
        sel_ids = sel.select("doc_id")
        selected_ids = (
            sel_ids if selected_ids is None
            else selected_ids.unionAll(sel_ids).localCheckpoint()
        )
        new_cov = ds.join(sel_ids, "doc_id", "left_semi").select("sh")
        covered = (
            new_cov if covered is None
            else covered.unionAll(new_cov)
        ).distinct().localCheckpoint()
        cov_n = covered.agg(
            F.count(F.lit(1)).alias("covered_total")
        )
        out.append(
            sel.withColumn("step", F.lit(step).cast("long")).crossJoin(
                F.broadcast(cov_n)
            )
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionAll(df)
    return res.select("step", "doc_id", "gain", "covered_total")


@query(
    "q_curriculum_interleave",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ),
    sliced AS (
      SELECT doc_id, source, n_chars, rn
      FROM ranked ORDER BY rn, source, doc_id LIMIT 60
    ),
    positioned AS (
      SELECT doc_id, source, n_chars, rn,
             ROW_NUMBER() OVER (ORDER BY rn, source, doc_id)
               AS global_pos,
             LAG(source) OVER (ORDER BY rn, source, doc_id) AS prev_src
      FROM sliced
    )
    SELECT CAST(global_pos AS BIGINT) AS global_pos, doc_id, source,
           CAST(rn AS BIGINT) AS round_robin_rank,
           n_chars,
           COALESCE(source = prev_src, FALSE) AS same_source_as_prev
    FROM positioned
    """,
    tags=("curation", "curriculum", "interleave", "llm-pipeline"),
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum shard ordering with fair source interleave: rank
    docs within each source by length (the classic easy/hard
    curriculum proxy), then emit them round-robin across sources —
    position is ordered by (per-source rank, source) so no source
    ever streams a long run into the data loader, which matters
    because consecutive same-domain batches measurably bias training.
    The first 60 positions are materialized with the
    same-source-as-prev audit flag (all FALSE while every source
    still has docs, by construction).

    Scale: the per-source ranking window partitions by source
    (parallel); the global slice is TakeOrderedAndProject on
    (rank, source) — NOT a single-partition window over the corpus —
    and position numbering runs on the constant 60-row slice. The
    full-corpus write would swap the slice for the two-phase
    distributed row number (operators/sorts.py q_global_row_number)."""
    d = load_table(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.col("n_chars").desc(), F.col("doc_id").asc()
            )
        )
        .alias("rn"),
    )
    sliced = ranked.orderBy("rn", "source", "doc_id").limit(60)
    w = Window.orderBy("rn", "source", "doc_id")
    return sliced.select(
        F.row_number().over(w).cast("long").alias("global_pos"),
        "doc_id",
        "source",
        F.col("rn").cast("long").alias("round_robin_rank"),
        "n_chars",
        F.coalesce(
            F.col("source") == F.lag("source").over(w), F.lit(False)
        ).alias("same_source_as_prev"),
    )


@query(
    "q_dedup_bytes_saved",
    oracle="""
    WITH grp AS (
      SELECT source, n_chars,
             (doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)))
               AS is_canonical
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE is_canonical) AS BIGINT)
             AS n_kept,
           CAST(SUM(n_chars) AS BIGINT) AS bytes_before,
           CAST(SUM(n_chars) FILTER (WHERE is_canonical) AS BIGINT)
             AS bytes_after,
           CAST((1000000 * (SUM(n_chars)
                 - SUM(n_chars) FILTER (WHERE is_canonical)))
                // SUM(n_chars) AS BIGINT) AS saved_ppm
    FROM grp GROUP BY source
    """,
    tags=("curation", "dedup", "storage-economics", "llm-pipeline"),
)
def q_dedup_bytes_saved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The economics of exact dedup, per source: bytes before vs after
    keeping only each digest's min-doc_id canonical (the exact row
    set q_dedup_md5 retains), and the saved fraction in exact ppm.
    This is the number that justifies (or kills) a dedup stage in a
    100 TB pipeline — a source with trivial savings doesn't earn its
    digest shuffle, one with 30% duplicate bytes pays for the whole
    stage. Complements q_soft_dedup_weight (which keeps duplicates
    down-weighted) with the storage view.

    Scale: one window keyed on the text digest (the same shuffle the
    dedup itself costs — the audit is free if run alongside), then a
    per-source rollup with map-side partials."""
    d = load_table(spark, sf_dir, "documents")
    grp = d.select(
        "source",
        "n_chars",
        (
            F.col("doc_id")
            == F.min("doc_id").over(
                Window.partitionBy(F.md5(F.col("text")))
            )
        ).alias("is_canonical"),
    )
    return grp.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN is_canonical THEN 1 ELSE 0 END")).alias(
            "n_kept"
        ),
        F.sum("n_chars").alias("bytes_before"),
        F.sum(
            F.expr("CASE WHEN is_canonical THEN n_chars ELSE 0 END")
        ).alias("bytes_after"),
        F.expr(
            "CAST((1000000 * (SUM(n_chars)"
            " - SUM(CASE WHEN is_canonical THEN n_chars ELSE 0 END)))"
            " div SUM(n_chars) AS BIGINT)"
        ).alias("saved_ppm"),
    )


@query(
    "q_waterfill_budget",
    oracle="""
    WITH mass AS (
      SELECT source,
             CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
                  AS BIGINT) AS m
      FROM documents GROUP BY source
    ), tot AS (
      SELECT CAST(SUM(m) AS BIGINT) AS total,
             CAST(SUM(m) * 2 // 5 AS BIGINT) AS budget,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM mass
    ), ordered AS (
      SELECT source, m,
             ROW_NUMBER() OVER (ORDER BY m, source) AS j,
             COALESCE(SUM(m) OVER (ORDER BY m, source
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS p_below,
             COALESCE(MAX(m) OVER (ORDER BY m, source
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS m_prev
      FROM mass
    ), lam AS (
      SELECT CAST(MAX(cand) AS BIGINT) AS lambda_star FROM (
        SELECT LEAST((t.budget - o.p_below) // (t.k - o.j + 1), o.m) AS cand
        FROM ordered o CROSS JOIN tot t
        WHERE (t.budget - o.p_below) // (t.k - o.j + 1) > o.m_prev
      )
    )
    SELECT o.source, o.m AS available_tokens,
           CAST(LEAST(o.m, l.lambda_star) AS BIGINT) AS allocated_tokens,
           l.lambda_star,
           CAST(t.budget AS BIGINT) AS budget,
           (o.m <= l.lambda_star) AS fully_taken
    FROM ordered o CROSS JOIN lam l CROSS JOIN tot t
    """,
    tags=("curation", "mixture", "budget", "waterfill", "llm-pipeline"),
)
def q_waterfill_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATER-FILLING token-budget allocation across sources: given a
    total training budget T (2/5 of the corpus here) and per-source
    token masses, find the integer water level λ* = max λ with
    Σ min(m_s, λ) <= T and allocate min(m_s, λ*) to each source — the
    allocation that takes small sources whole and caps every large
    source at the SAME level, the fairness rule temperature mixtures
    approximate and dedup-aware budgets actually need (a source can
    never be asked for more tokens than it has, and no large source
    crowds out the tail).

    Exact integer derivation, both engines: sort sources by mass with
    prefix sums; between consecutive masses Σ min(m_s, λ) is linear in
    λ with slope (k - j + 1), so each segment's candidate level is one
    integer division, validity is one comparison against the previous
    mass, and λ* is the max valid candidate (capped at the segment
    mass for the all-capped tail). No iteration, no floats — the
    closed form a driver-side bisection would converge to.

    Scale: per-source masses are one map-side HOF count + one tiny
    aggregate (|sources| rows); everything after runs on that
    |sources|-row frame — the broadcast-scalar shape. The allocation
    feeds q_stratified_exact_quota-style per-source selection as its
    quota vector."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    mass = (
        d.select("source", F.size(toks).alias("n"))
        .groupBy("source")
        .agg(F.sum("n").cast("long").alias("m"))
    )
    tot = mass.agg(
        F.sum("m").cast("long").alias("total"),
        F.expr("CAST(SUM(m) * 2 div 5 AS BIGINT)").alias("budget"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    w = Window.orderBy("m", "source")
    ordered = mass.select(
        "source",
        "m",
        F.row_number().over(w).cast("long").alias("j"),
        F.coalesce(
            F.sum("m").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("p_below"),
        F.coalesce(
            F.max("m").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).cast("long").alias("m_prev"),
    )
    cand = (
        ordered.crossJoin(F.broadcast(tot))
        .select(
            "source", "m", "j", "p_below", "m_prev", "budget", "k",
            F.expr("(budget - p_below) div (k - j + 1)").alias("raw"),
        )
        .filter(F.col("raw") > F.col("m_prev"))
        .select(F.least(F.col("raw"), F.col("m")).alias("cand"))
    )
    lam = cand.agg(F.max("cand").cast("long").alias("lambda_star"))
    return (
        ordered.crossJoin(F.broadcast(lam))
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("m").alias("available_tokens"),
            F.least(F.col("m"), F.col("lambda_star")).cast("long").alias(
                "allocated_tokens"
            ),
            "lambda_star",
            F.col("budget").cast("long").alias("budget"),
            (F.col("m") <= F.col("lambda_star")).alias("fully_taken"),
        )
    )


# ---------------------------------------------------------------------
# q_doremi_mixture (round 8)
# ---------------------------------------------------------------------


@query(
    "q_doremi_mixture",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t AS term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    vocab AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY term
    ),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_total,
             CAST(COUNT(*) AS BIGINT) AS v_size
      FROM vocab
    ),
    lp AS (
      SELECT term,
             CAST(ROUND(-ln((CAST(c AS DOUBLE) + 1.0)
                            / (CAST(tot.n_total AS DOUBLE)
                               + CAST(tot.v_size AS DOUBLE))) * 1000000)
                  AS BIGINT) AS nll_micro
      FROM vocab, tot
    ),
    dom AS MATERIALIZED (
      SELECT d.source,
             CAST(COUNT(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_toks,
             CAST(SUM(lp.nll_micro) // COUNT(*) AS BIGINT) AS ce_micro
      FROM tok t
      JOIN lp USING (term)
      JOIN documents d USING (doc_id)
      GROUP BY d.source
    ),
    floor_ce AS (SELECT MIN(ce_micro) AS min_ce FROM dom),
    w AS (
      SELECT dom.source, dom.n_docs, dom.n_toks, dom.ce_micro,
             dom.ce_micro - f.min_ce AS excess_micro,
             CAST(dom.n_toks AS HUGEINT)
               * (1000000 + dom.ce_micro - f.min_ce) AS w_raw
      FROM dom, floor_ce f
    )
    SELECT source, n_docs, n_toks, ce_micro,
           CAST(excess_micro AS BIGINT) AS excess_micro,
           CAST((1000000 * CAST(n_toks AS HUGEINT))
                // (SELECT SUM(n_toks) FROM dom) AS BIGINT) AS token_ppm,
           CAST((1000000 * w_raw) // (SELECT SUM(w_raw) FROM w)
             AS BIGINT) AS weight_ppm
    FROM w
    """,
    tags=("curation", "mixture", "doremi", "domain-reweight", "llm-pipeline"),
)
def q_doremi_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excess-loss domain reweighting in the DoReMi style (Xie et al.
    2023): score every domain (source) by how much its per-token
    cross-entropy under the corpus unigram LM exceeds the easiest
    domain's, then tilt the token-share mixture toward high-excess
    domains with one multiplicative-weights step. The full method
    iterates a proxy-model Group-DRO loop; the data-side operator —
    domain losses, excess over the floor, tilted renormalized weights
    — is exactly this relational shape, with the LM scores supplied
    here by the q_doc_perplexity_filter midframe in place of proxy
    checkpoints.

    The update is the FIRST-ORDER Hedge step (eta = 1/nat):
    w_s = tokens_s * (1 + excess_s), i.e. exp(excess) linearized, which
    keeps every weight exact wide-integer arithmetic (excess is in
    integer micro-nats, bounded by ~1 nat on this corpus, where the
    linearization is within 40% of exp and strictly order-preserving
    — the ranking of domains is what downstream sampling consumes).

    Exactness: nll quantized once per vocab entry to micro-nats (the
    perplexity-filter treatment); per-domain totals are exact integer
    sums; excess, the tilt product, and both ppm shares are truncating
    wide-integer divisions.

    Scale: one token explode feeding two hash aggregates (vocab, then
    domain moments via a broadcast score join); everything after runs
    on |sources| rows. No proxy-model training happens in-engine at
    100 TB either — checkpoint losses arrive as a tiny side table,
    exactly the dom frame's shape."""
    from .corpus import _unigram_doc_ce

    doc = _unigram_doc_ce(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    dom = (
        doc.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("n_toks"),
            F.expr(
                "CAST(SUM(nll_sum_micro) div SUM(n_toks) AS BIGINT)"
            ).alias("ce_micro"),
        )
    )
    floor_ce = dom.agg(F.min("ce_micro").alias("min_ce"))
    w = dom.crossJoin(F.broadcast(floor_ce)).select(
        "source",
        "n_docs",
        "n_toks",
        "ce_micro",
        (F.col("ce_micro") - F.col("min_ce")).alias("excess_micro"),
        F.expr(
            "CAST(n_toks AS DECIMAL(38,0)) * (1000000 + ce_micro - min_ce)"
        ).alias("w_raw"),
    )
    tots = w.agg(
        F.sum("n_toks").alias("tok_total"), F.sum("w_raw").alias("w_total")
    )
    return w.crossJoin(F.broadcast(tots)).select(
        "source",
        "n_docs",
        "n_toks",
        "ce_micro",
        "excess_micro",
        F.expr(
            "CAST((1000000 * CAST(n_toks AS DECIMAL(38,0))) div tok_total"
            " AS BIGINT)"
        ).alias("token_ppm"),
        F.expr(
            "CAST((1000000 * w_raw) div w_total AS BIGINT)"
        ).alias("weight_ppm"),
    )
