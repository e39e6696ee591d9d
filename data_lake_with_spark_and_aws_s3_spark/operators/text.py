"""Text-analysis operators for LLM-data pipelines (SURVEY.md §2.10):
normalization, tokenization + term stats, TF-IDF, language breakdown,
heuristic language-ID, quality scoring, token counting, document
fingerprinting.

All pure builtin expressions (split/explode/regexp/HOFs) — zero Python
in the hot path, so every operator rides whole-stage codegen and
scales with the scan. Term-level operators explode to one row per
token BEFORE a hash aggregate: shuffle volume is bounded by |vocab|
after partial aggregation, not by token count.

Float policy: ratios are single divisions of exactly-equal integer
counts (bit-identical across engines); idf/ln outputs are rounded
post-aggregation (libm 1-ulp drift vs spacing 1e-6 — negligible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import ngram_join, tokens, words
from ..registry import query
from ..sources.loader import fan_out, load_table

_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on")
_SW_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)


@query(
    "q_text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS norm_text,
           CAST(length(trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'))) AS BIGINT)
             AS norm_len
    FROM documents
    """,
    tags=("text", "normalize"),
)
def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization: lowercase, strip non-alnum,
    trim — the first stage of every dedup/quality pipeline."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""))
    return d.select(
        "doc_id",
        norm.alias("norm_text"),
        F.length(norm).cast("long").alias("norm_len"),
    )


@query(
    "q_token_stats",
    oracle="""
    SELECT term,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs
    FROM (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term
      FROM documents
    )
    WHERE term <> ''
    GROUP BY term
    """,
    tags=("text", "tokenize"),
)
def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus term statistics: split -> explode -> two-level counts.
    The shuffle key is the term (|vocab| groups) — partial aggregation
    makes this O(vocab) network traffic regardless of corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


@query(
    "q_tfidf_topterms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
    ), df AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok WHERE term <> '' GROUP BY 1
    ), n AS (
      SELECT COUNT(*) AS n_docs FROM documents
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored)
    WHERE rn <= 3
    """,
    tags=("text", "tfidf"),
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document, from first principles:
    tf (per doc-term), df (per term), idf = ln(N/df). Ranking happens
    on the ROUNDED score (+ term tie-break) so both engines rank the
    same values. Joins: tf |><| df is a term-keyed shuffle; N is a
    broadcast scalar."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(words()).alias("term")).filter(
        F.col("term") != ""
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = d.count()  # scalar: folded into the expression as a literal
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


@query(
    "q_lang_breakdown",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
    FROM documents
    GROUP BY lang, source
    """,
    tags=("text", "breakdown"),
)
def q_lang_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by language x source — the governance view
    every training-data pipeline starts from."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


@query(
    "q_quality_score",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
               AS n_tokens,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ({_SW_SQL}))) AS BIGINT) AS n_stop,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_alpha
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
           CAST(n_alpha AS DOUBLE) / n_tokens AS avg_token_len,
           CAST(n_stop AS DOUBLE) / n_tokens * 0.5
             + least(CAST(n_tokens AS DOUBLE) / 500, 1.0) * 0.5 AS quality_score
    FROM feats
    """,
    tags=("text", "quality"),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: stopword ratio (fluent text has
    stopwords), length saturation, mean token length. All ratios are
    single divisions of identical integers — bit-exact cross-engine
    without rounding."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: x.isin(*_STOPWORDS))).cast("long")
    n_alpha = F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("long")
    sw_ratio = n_stop.cast("double") / n_tokens
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        sw_ratio.alias("stopword_ratio"),
        (n_alpha.cast("double") / n_tokens).alias("avg_token_len"),
        (
            sw_ratio * 0.5
            + F.least(n_tokens.cast("double") / 500, F.lit(1.0)) * 0.5
        ).alias("quality_score"),
    )


_LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "es": ("el", "la", "de", "que"),
    "de": ("der", "die", "und", "das"),
    "fr": ("le", "la", "et", "les"),
}


def _marker_count_spark(lang: str):
    return F.size(F.filter(tokens(), lambda x: x.isin(*_LANG_MARKERS[lang]))).cast("long")


def _marker_count_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _LANG_MARKERS[lang])
    return f"CAST(len(list_filter(string_split(text, ' '), x -> x IN ({words}))) AS BIGINT)"


@query(
    "q_language_id",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang,
             {_marker_count_sql('en')} AS s_en,
             {_marker_count_sql('es')} AS s_es,
             {_marker_count_sql('de')} AS s_de,
             {_marker_count_sql('fr')} AS s_fr
      FROM documents
    ), pred AS (
      SELECT doc_id, lang,
             CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'unknown'
                  WHEN s_en >= greatest(s_es, s_de, s_fr) THEN 'en'
                  WHEN s_es >= greatest(s_de, s_fr) THEN 'es'
                  WHEN s_de >= s_fr THEN 'de'
                  ELSE 'fr' END AS predicted
      FROM scores
    )
    SELECT lang, predicted, COUNT(*) AS n_docs
    FROM pred GROUP BY lang, predicted
    """,
    tags=("text", "language-id"),
)
def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language identification (n-gram heuristic class):
    per-language stopword hit counts, argmax with a fixed precedence
    order so ties are deterministic. Confusion-matrix style output
    (true lang x predicted)."""
    d = load_table(spark, sf_dir, "documents")
    s = {lang: _marker_count_spark(lang) for lang in _LANG_MARKERS}
    predicted = (
        F.when(F.greatest(s["en"], s["es"], s["de"], s["fr"]) == 0, "unknown")
        .when(s["en"] >= F.greatest(s["es"], s["de"], s["fr"]), "en")
        .when(s["es"] >= F.greatest(s["de"], s["fr"]), "es")
        .when(s["de"] >= s["fr"], "de")
        .otherwise("fr")
    )
    return (
        d.select("lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "q_token_count",
    oracle="""
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
             AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
             AS n_bpe_tokens,
           CAST(n_chars AS DOUBLE)
             / len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
             AS chars_per_token
    FROM documents
    """,
    tags=("text", "token-count"),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish
    regex lexer (letter runs / digit runs / single punctuation) —
    the budget estimator for LLM context costs."""
    d = load_table(spark, sf_dir, "documents")
    bpe = F.regexp_count(F.col("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]"))
    return d.select(
        "doc_id",
        F.size(tokens()).cast("long").alias("n_ws_tokens"),
        bpe.cast("long").alias("n_bpe_tokens"),
        (F.col("n_chars").cast("double") / bpe).alias("chars_per_token"),
    )


@query(
    "q_doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_min(list_transform(
             range(0, len(string_split(text, ' ')) - 3),
             i -> md5(array_to_string(string_split(text, ' ')[i+1:i+4], ' '))
           )) AS fingerprint
    FROM documents
    """,
    tags=("text", "fingerprint"),
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style document fingerprint: min digest over token
    4-gram shingles (a 1-hash MinHash). Shingling is an array HOF —
    no explode, no shuffle; the whole fingerprint computes per-row
    inside codegen. Docs with < 4 tokens fingerprint as NULL (both
    engines: min over an empty list)."""
    d = load_table(spark, sf_dir, "documents")
    # r8: zip-form shingles (textops.ngram_join — identical values);
    # still per-row, no shuffle
    tk = d.select("doc_id", words().alias("tk"))
    return tk.select(
        "doc_id",
        F.array_min(
            F.transform(ngram_join(F.col("tk"), 4), lambda g: F.md5(g))
        ).alias("fingerprint"),
    )


@query(
    "q_phrase_search",
    oracle="""
    WITH post AS (
      SELECT doc_id,
             CAST(unnest(generate_series(1, len(toks))) - 1 AS INTEGER) AS pos,
             unnest(toks) AS tok
      FROM (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
      )
    ), big AS (
      SELECT p1.doc_id, p1.tok AS term_1, p2.tok AS term_2
      FROM post p1 JOIN post p2
        ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1
    ), top AS (
      SELECT term_1, term_2 FROM big
      GROUP BY term_1, term_2
      ORDER BY COUNT(*) DESC, term_1, term_2 LIMIT 1
    )
    SELECT b.doc_id, b.term_1, b.term_2, CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM big b JOIN top t ON b.term_1 = t.term_1 AND b.term_2 = t.term_2
    GROUP BY b.doc_id, b.term_1, b.term_2
    """,
    tags=("text", "inverted-index", "phrase-search"),
)
def q_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search over a positional inverted index: postings are
    (term, doc, position) rows from one posexplode pass — the
    search-engine layout — and a two-term phrase match is a
    posting-list self-join on (doc, pos+1), never a rescan of the
    document text. The phrase itself is data-derived (the corpus's
    most frequent bigram, deterministic tie-break) so the query is
    self-contained; per-doc match counts are exact integers.

    Scale: postings shuffle once on doc_id for the adjacency join (at
    index-build time this partitioning is persisted); the phrase probe
    then touches only the two terms' postings — cost is bounded by
    document frequency of the rarer term, which is why real engines
    intersect rarest-first. The top-bigram subquery broadcasts (1
    row)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    post = d.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    p1 = post.select("doc_id", F.col("pos").alias("pos1"), F.col("tok").alias("term_1"))
    p2 = post.select("doc_id", F.col("pos").alias("pos2"), F.col("tok").alias("term_2"))
    big = p1.join(
        p2,
        (p1.doc_id == p2.doc_id) & (F.col("pos2") == F.col("pos1") + 1),
    ).select(p1.doc_id, "term_1", "term_2")
    top = (
        big.groupBy("term_1", "term_2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "term_1", "term_2")
        .limit(1)
        .select("term_1", "term_2")
    )
    return (
        big.join(F.broadcast(top), ["term_1", "term_2"])
        .groupBy("doc_id", "term_1", "term_2")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .select("doc_id", "term_1", "term_2", "n_matches")
    )


@query(
    "q_term_burstiness",
    oracle="""
    WITH tf AS (
      SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
      GROUP BY doc_id, t
    ),
    m AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(tf) AS BIGINT) AS tf_total,
             SUM(CAST(tf AS HUGEINT) * tf) AS ss
      FROM tf GROUP BY term
    )
    SELECT term, df, tf_total,
           CAST((1000000 * CAST(tf_total AS HUGEINT)) // df AS BIGINT)
             AS burst_ppm,
           CAST((1000000 * (CAST(df AS HUGEINT) * ss
                            - CAST(tf_total AS HUGEINT) * tf_total))
                // (CAST(df AS HUGEINT) * tf_total) AS BIGINT) AS d_ppm
    FROM m
    WHERE df >= 5
    """,
    tags=("text", "burstiness", "term-stats", "llm-pipeline"),
)
def q_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term burstiness census (Church-Gale): for every vocabulary
    term with df >= 5, its mean occurrences per containing document
    (burst_ppm) and its dispersion index var/mean over those documents
    (d_ppm) — the signal separating topical words (bursty) from
    function words (evenly spread), used to pick content-bearing
    features and to flag template floods. Both ratios are truncating
    integer divisions of exact cross-multiplied moments; the second
    moment accumulates in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) so
    no corpus size overflows it, and only BIGINT-safe ratios are
    hashed.

    Scale: one (doc, term) hash aggregate over the token scan, then a
    term-keyed aggregate over the tf table — both with map-side
    partials; output is vocabulary-bounded."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    m = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("tf_total"),
        F.sum(F.col("tf").cast("decimal(38,0)") * F.col("tf")).alias("ss"),
    )
    return m.filter(F.col("df") >= 5).select(
        "term",
        "df",
        "tf_total",
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * tf_total) div df"
            " AS BIGINT)"
        ).alias("burst_ppm"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0))"
            " * (CAST(df AS DECIMAL(38,0)) * ss"
            "    - CAST(tf_total AS DECIMAL(38,0)) * tf_total))"
            " div (CAST(df AS DECIMAL(38,0)) * tf_total) AS BIGINT)"
        ).alias("d_ppm"),
    )


@query(
    "q_source_vocab_overlap",
    oracle="""
    WITH vt AS MATERIALIZED (
      SELECT DISTINCT source, t AS term
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ),
    vs AS MATERIALIZED (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab FROM vt
      GROUP BY source
    ),
    inter AS (
      SELECT a.source AS s1, b.source AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM vt a JOIN vt b
        ON b.term = a.term AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s1, s2, n_common,
           va.vocab AS vocab_1, vb.vocab AS vocab_2,
           CAST((1000000 * n_common)
                // (va.vocab + vb.vocab - n_common) AS BIGINT)
             AS jaccard_ppm
    FROM inter
    JOIN vs va ON va.source = inter.s1
    JOIN vs vb ON vb.source = inter.s2
    """,
    tags=("text", "vocab-overlap", "corpus-similarity", "llm-pipeline"),
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard matrix between sources — the
    corpus-vs-corpus similarity screen used to spot mirrored dumps
    before document-level dedup. Intersections come from the inverted
    (term -> sources) index: the self-join is keyed on term and each
    posting holds at most |sources| entries, so the pair fan-out is
    bounded by |sources|^2 per term, never |docs|^2. Jaccard uses
    inclusion-exclusion over exact distinct-vocab counts, in
    truncating ppm.

    Scale: one distinct (source, term) aggregate (map-side partials),
    a term-keyed bounded self-join, and |sources|^2/2 output rows."""
    d = load_table(spark, sf_dir, "documents")
    vt = (
        d.select("source", F.explode(words()).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )
    vs = vt.groupBy("source").agg(F.count(F.lit(1)).alias("vocab"))
    a, b = vt.alias("a"), vt.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.term") == F.col("a.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("s1"), F.col("b.source").alias("s2")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    va = vs.select(
        F.col("source").alias("s1"), F.col("vocab").alias("vocab_1")
    )
    vb = vs.select(
        F.col("source").alias("s2"), F.col("vocab").alias("vocab_2")
    )
    return (
        inter.join(F.broadcast(va), "s1")
        .join(F.broadcast(vb), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            "vocab_1",
            "vocab_2",
            F.expr(
                "CAST((1000000 * n_common)"
                " div (vocab_1 + vocab_2 - n_common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
    )


from .stats import _isqrt_wide_sql  # exact wide-integer square root


@query(
    "q_source_tv_distance",
    oracle=f"""
    WITH tf AS MATERIALIZED (
      SELECT source, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
      GROUP BY source, t
    ),
    tot AS MATERIALIZED (
      SELECT source, CAST(SUM(tf) AS BIGINT) AS tf_total,
             CAST(SUM(tf * tf) AS BIGINT) AS sq_total
      FROM tf GROUP BY source
    ),
    common AS (
      SELECT a.source AS s1, b.source AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(ABS(a.tf * tb.tf_total - b.tf * ta.tf_total))
                  AS BIGINT) AS s_absdiff,
             CAST(SUM(a.tf * tb.tf_total) AS BIGINT) AS s_a,
             CAST(SUM(b.tf * ta.tf_total) AS BIGINT) AS s_b,
             CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      FROM tf a
      JOIN tf b ON b.term = a.term AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY a.source, b.source
    ),
    z AS (
      SELECT s1, s2, n_common, dot,
             ta.tf_total AS tf_total_1, tb.tf_total AS tf_total_2,
             s_absdiff + (ta.tf_total * tb.tf_total - s_a)
                       + (ta.tf_total * tb.tf_total - s_b) AS num,
             CAST(ta.sq_total AS HUGEINT) * tb.sq_total AS nrm2
      FROM common
      JOIN tot ta ON ta.source = common.s1
      JOIN tot tb ON tb.source = common.s2
    )
    SELECT s1, s2, n_common, CAST(num AS BIGINT) AS num, dot,
           tf_total_1, tf_total_2,
           CAST((1000000 * CAST(num AS HUGEINT))
                // (2 * CAST(tf_total_1 AS HUGEINT) * tf_total_2)
                AS BIGINT) AS tv_ppm,
           CAST((1000000 * CAST(dot AS HUGEINT))
                // {_isqrt_wide_sql("nrm2", "HUGEINT")}
                AS BIGINT) AS cos_ppm
    FROM z
    """,
    tags=("text", "tv-distance", "corpus-similarity", "llm-pipeline"),
)
def q_source_tv_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-vs-source term-DISTRIBUTION distances — total
    variation and cosine over term-frequency vectors — the frequency-
    weighted companion to q_source_vocab_overlap's set Jaccard (two
    mirrors share vocabulary; only distributional distance separates
    "same topic" from "same dump"). TV is exact rational arithmetic:
    sum|a_i/A - b_i/B| cross-multiplies to sum|a_i*B - b_i*A|/(AB),
    and the terms missing from one side fold in via inclusion-
    exclusion (sum_all a_i*B = AB), so only the COMMON-term join is
    ever materialized. Cosine hashes the exact integer dot product
    and uses the exact wide-integer isqrt for the ppm score.

    Scale: one tf aggregate (map-side partials), a term-keyed self-
    join whose fan-out per term is bounded by |sources|, broadcast
    per-source totals, |sources|^2/2 output rows."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tot = tf.groupBy("source").agg(
        F.sum("tf").alias("tf_total"),
        F.sum(F.col("tf") * F.col("tf")).alias("sq_total"),
    )
    ta = tot.select(
        F.col("source").alias("s1"),
        F.col("tf_total").alias("tf_total_1"),
        F.col("sq_total").alias("sq_total_1"),
    )
    tb = tot.select(
        F.col("source").alias("s2"),
        F.col("tf_total").alias("tf_total_2"),
        F.col("sq_total").alias("sq_total_2"),
    )
    a, b = tf.alias("a"), tf.alias("b")
    common = (
        a.join(
            b,
            (F.col("b.term") == F.col("a.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .select(
            F.col("a.source").alias("s1"),
            F.col("b.source").alias("s2"),
            F.col("a.tf").alias("atf"),
            F.col("b.tf").alias("btf"),
        )
        .join(F.broadcast(ta), "s1")
        .join(F.broadcast(tb), "s2")
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(
                F.abs(
                    F.col("atf") * F.col("tf_total_2")
                    - F.col("btf") * F.col("tf_total_1")
                )
            ).alias("s_absdiff"),
            F.sum(F.col("atf") * F.col("tf_total_2")).alias("s_a"),
            F.sum(F.col("btf") * F.col("tf_total_1")).alias("s_b"),
            F.sum(F.col("atf") * F.col("btf")).alias("dot"),
        )
    )
    z = (
        common.join(F.broadcast(ta), "s1")
        .join(F.broadcast(tb), "s2")
        .withColumn(
            "num",
            F.col("s_absdiff")
            + (F.col("tf_total_1") * F.col("tf_total_2") - F.col("s_a"))
            + (F.col("tf_total_1") * F.col("tf_total_2") - F.col("s_b")),
        )
        .withColumn(
            "nrm2",
            F.expr(
                "CAST(sq_total_1 AS DECIMAL(38,0)) * sq_total_2"
            ),
        )
    )
    return z.select(
        "s1",
        "s2",
        "n_common",
        F.col("num").cast("long").alias("num"),
        "dot",
        "tf_total_1",
        "tf_total_2",
        F.expr(
            "CAST((1000000 * CAST(num AS DECIMAL(38,0)))"
            " div (2 * CAST(tf_total_1 AS DECIMAL(38,0)) * tf_total_2)"
            " AS BIGINT)"
        ).alias("tv_ppm"),
        F.expr(
            f"CAST((1000000 * CAST(dot AS DECIMAL(38,0)))"
            f" div {_isqrt_wide_sql('nrm2', 'DECIMAL(38,0)')}"
            f" AS BIGINT)"
        ).alias("cos_ppm"),
    )


@query(
    "q_vocab_coverage",
    oracle="""
    WITH tf AS MATERIALIZED (
      SELECT t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      WHERE t <> ''
      GROUP BY t
    ),
    tot AS (
      SELECT CAST(SUM(tf) AS BIGINT) AS mass,
             CAST(COUNT(*) AS BIGINT) AS vocab
      FROM tf
    ),
    ranked AS (
      SELECT tf,
             CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS BIGINT)
               AS rn
      FROM tf
    ),
    grid AS (
      SELECT k FROM (VALUES (10), (100), (1000), (10000)) g(k)
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COALESCE(SUM(CASE WHEN rn <= k THEN tf END), 0)
                AS BIGINT) AS top_mass,
           tot.mass AS total_mass, tot.vocab,
           CAST((1000000 * COALESCE(SUM(CASE WHEN rn <= k THEN tf END), 0))
                // tot.mass AS BIGINT) AS coverage_ppm
    FROM grid, ranked, tot
    GROUP BY k, tot.mass, tot.vocab
    """,
    tags=("text", "vocab-coverage", "tokenizer", "llm-pipeline"),
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-mass coverage curve of the top-k vocabulary (k = 10,
    100, 1k, 10k) — the tokenizer-design primitive behind "how big a
    vocab do we need": what fraction of all token occurrences the k
    most frequent terms cover, in truncating ppm. Rank ties break on
    the term string, so the curve is deterministic in both engines.

    Scale: one term-frequency aggregate; the top-10k slice is
    TakeOrderedAndProject (never a global sort of the vocabulary),
    the rank window then runs over a CONSTANT k_max rows, and the
    corpus totals are one scalar aggregate broadcast back (the 1-row
    stitch pattern)."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(words()).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tot = tf.agg(
        F.sum("tf").alias("total_mass"), F.count(F.lit(1)).alias("vocab")
    )
    topk = tf.orderBy(F.desc("tf"), "term").limit(10000)
    ranked = topk.select(
        "tf",
        F.expr(
            "CAST(ROW_NUMBER() OVER (ORDER BY tf DESC, term) AS BIGINT)"
        ).alias("rn"),
    )
    grid = spark.createDataFrame([(10,), (100,), (1000,), (10000,)], "k long")
    return (
        F.broadcast(grid)
        .crossJoin(ranked)
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("rn") <= F.col("k"), F.col("tf"))),
                F.lit(0),
            ).alias("top_mass")
        )
        .join(F.broadcast(tot))
        .select(
            "k",
            "top_mass",
            "total_mass",
            "vocab",
            F.expr(
                "CAST((1000000 * top_mass) div total_mass AS BIGINT)"
            ).alias("coverage_ppm"),
        )
    )


@query(
    "q_readability",
    oracle="""
    WITH counts AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t <> '')) AS BIGINT) AS words,
             CAST(GREATEST(len(regexp_extract_all(text, '\\.')), 1)
                  AS BIGINT) AS sents,
             CAST(GREATEST(len(regexp_extract_all(lower(text),
                                                  '[aeiou]+')), 1)
                  AS BIGINT) AS vgroups
      FROM documents
    )
    SELECT doc_id, lang, words, sents, vgroups,
           CAST(206835 - (1015 * words) // NULLIF(sents, 0)
                       - (84600 * vgroups) // NULLIF(words, 0)
                AS BIGINT) AS flesch_milli
    FROM counts
    WHERE words > 0
    """,
    tags=("text", "readability", "quality", "llm-pipeline"),
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability proxy per document: words, sentences
    (period count, floored at 1), and vowel-group "syllables" feed
    206.835 - 1.015*(w/s) - 84.6*(syl/w), carried in milli units
    with truncating divisions — the reading-ease screen that
    complements q_quality_score's surface ratios in a curation
    stack. All three counts are exact integers from the same regex
    semantics in both engines; no floats anywhere.

    Scale: pure per-row map work (split/regexp inside codegen), no
    shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.select(
        "doc_id",
        "lang",
        F.size(tokens())
        .cast("long")
        .alias("words"),
        F.greatest(
            F.size(F.expr(r"regexp_extract_all(text, '\\.', 0)")), F.lit(1)
        )
        .cast("long")
        .alias("sents"),
        F.greatest(
            F.size(F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)")),
            F.lit(1),
        )
        .cast("long")
        .alias("vgroups"),
    )
    return counts.filter(F.col("words") > 0).select(
        "doc_id",
        "lang",
        "words",
        "sents",
        "vgroups",
        F.expr(
            "CAST(206835 - (1015 * words) div NULLIF(sents, 0)"
            " - (84600 * vgroups) div NULLIF(words, 0) AS BIGINT)"
        ).alias("flesch_milli"),
    )


@query(
    "q_rake_keywords",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(t, ' '), x -> x <> '')) AS tok,
             generate_subscripts(list_filter(string_split(t, ' '),
                                             x -> x <> ''), 1) AS pos
      FROM norm
    ),
    nonstop AS (
      SELECT doc_id, tok, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
               AS isl
      FROM tok WHERE tok NOT IN ({_SW_SQL})
    ),
    member AS (
      SELECT doc_id, isl, pos, tok,
             COUNT(*) OVER (PARTITION BY doc_id, isl) AS plen
      FROM nonstop
    ),
    wstats AS (
      SELECT tok,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM member GROUP BY tok
    ),
    pscore AS (
      SELECT m.doc_id, m.isl,
             CAST(SUM((1000000 * w.deg) // w.freq) AS BIGINT) AS score
      FROM member m JOIN wstats w ON w.tok = m.tok
      GROUP BY m.doc_id, m.isl
    ),
    ptext AS (
      SELECT doc_id, isl, string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS phrase_len
      FROM member GROUP BY doc_id, isl
    )
    SELECT t.phrase,
           CAST(MAX(t.phrase_len) AS BIGINT) AS phrase_len,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MAX(s.score) AS BIGINT) AS score_micro
    FROM ptext t JOIN pscore s ON s.doc_id = t.doc_id AND s.isl = t.isl
    GROUP BY t.phrase
    ORDER BY score_micro DESC, phrase ASC
    LIMIT 20
    """,
    tags=("text", "rake", "keyword-extraction", "llm-pipeline"),
)
def q_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction over the corpus: candidate phrases are
    maximal stopword-free token runs (gaps-and-islands on token
    position); each word scores degree/frequency where degree sums the
    lengths of every phrase the word occurs in, and a phrase scores
    the sum of its member-word scores. Scores are micro-unit integers
    ((1e6*deg)//freq, truncating in both engines), so the corpus
    top-20 is exactly reproducible; identical phrase texts always tie
    on score (same tokens -> same member words), making MAX a safe
    collapse.

    Scale: explode -> island window (doc-partitioned) -> two hash
    aggs bounded by |phrases| and |vocab| after map-side partials;
    the word-stats join is a vocab-keyed equi-join and the final
    top-20 is TakeOrdered, never a global sort materialization."""
    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", "")
        ).alias("t"),
    )
    tok = norm.select(
        "doc_id",
        F.posexplode(F.filter(F.split(F.col("t"), " "), lambda x: x != "")),
    ).select(
        "doc_id", (F.col("pos") + 1).alias("pos"), F.col("col").alias("tok")
    )
    nonstop = (
        tok.filter(~F.col("tok").isin(*_STOPWORDS))
        .withColumn(
            "isl",
            F.col("pos")
            - F.row_number().over(
                Window.partitionBy("doc_id").orderBy("pos")
            ),
        )
    )
    member = nonstop.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "isl"))
    )
    wstats = member.groupBy("tok").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    pscore = (
        member.join(wstats, "tok")
        .groupBy("doc_id", "isl")
        .agg(
            F.sum(F.expr("(1000000 * deg) div freq")).alias("score")
        )
    )
    ptext = member.groupBy("doc_id", "isl").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list(struct(pos, tok))),"
            " s -> s.tok), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).alias("phrase_len"),
    )
    return (
        ptext.join(pscore, ["doc_id", "isl"])
        .groupBy("phrase")
        .agg(
            F.max("phrase_len").alias("phrase_len"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.max("score").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("phrase").asc())
        .limit(20)
    )


_GAZETTEER = (
    ("execution", "scan"),
    ("execution", "filter"),
    ("execution", "sort"),
    ("execution", "merge"),
    ("execution", "hash"),
    ("execution", "join"),
    ("storage", "table"),
    ("storage", "column"),
    ("storage", "row"),
    ("storage", "part"),
    ("storage", "batch"),
    ("streaming", "stream"),
    ("streaming", "window"),
    ("streaming", "watermark"),
    ("sizing", "big"),
    ("sizing", "small"),
    ("sizing", "fast"),
    ("sizing", "slow"),
)
_GAZ_SQL = ", ".join(f"('{t}', '{w}')" for t, w in _GAZETTEER)


@query(
    "q_keyword_tagging",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      FROM documents
    ),
    gaz(tag, term) AS (VALUES {_GAZ_SQL})
    SELECT tag, lang,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_matches
    FROM toks JOIN gaz USING (term)
    WHERE term <> ''
    GROUP BY tag, lang
    """,
    tags=("text", "tagging", "gazetteer", "llm-pipeline"),
)
def q_keyword_tagging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-based document tagging (the FlashText/gazetteer
    pattern): a curated (tag, keyword) table is broadcast against the
    corpus's exploded tokens and rolled up to per-(tag, lang) document
    reach and raw match counts — the topic/brand/safety tagging pass a
    curation pipeline runs to route documents into mixture buckets.

    Scale: the gazetteer is dictionary-sized (thousands of rows at
    most), so the token join is a broadcast hash join on the exploded
    scan — no shuffle of corpus data; the rollup's key space is
    |tags| x |langs|. A real deployment compiles the dictionary into
    an Aho-Corasick automaton inside a pandas UDF when keywords are
    multi-word; single-token dictionaries need nothing beyond this
    equi-join."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(tokens()).alias("term")
    ).filter(F.col("term") != "")
    gaz = spark.createDataFrame(list(_GAZETTEER), "tag string, term string")
    return (
        toks.join(F.broadcast(gaz), "term")
        .groupBy("tag", "lang")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_matches"),
        )
    )


@query(
    "q_good_turing",
    oracle="""
    WITH toks AS (  -- empties dropped BEFORE windowing, like the Spark side
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ts
      FROM documents
    ),
    grams AS (
      SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS term
      FROM (
        SELECT ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM toks
      )
    ),
    counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS r FROM grams GROUP BY term
    ),
    fof AS (  -- frequency of frequencies
      SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
      FROM counts GROUP BY r
    ),
    g AS (
      SELECT f.r, f.n_r, f2.n_r AS n_r1,
             CAST(SUM(f.r * f.n_r) OVER () AS BIGINT) AS n_tokens
      FROM fof f LEFT JOIN fof f2 ON f2.r = f.r + 1
    ),
    unseen AS (
      SELECT CAST(COALESCE(
               (SELECT (1000000000 * g2.n_r) // g2.n_tokens
                FROM g g2 WHERE g2.r = 1), 0) AS BIGINT)
               AS unseen_mass_ppb
    )
    SELECT r, n_r,
           CAST(CASE WHEN n_r1 IS NOT NULL
                THEN (1000000 * (r + 1) * n_r1) // n_r END AS BIGINT)
             AS r_star_micro,
           CAST((1000000000 * n_r * r) // n_tokens AS BIGINT)
             AS mass_ppb,
           unseen_mass_ppb
    FROM g CROSS JOIN unseen
    ORDER BY r LIMIT 10
    """,
    tags=("text", "good-turing", "smoothing", "language-model"),
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing with word TRIGRAMS as the
    species (the 31-word synthetic vocabulary has no rare WORDS; the
    trigram space is ~30k types with a genuine hapax tail at every
    shipped SF): the frequency-of-frequencies table N_r, the adjusted
    count r* = (r+1) N_{r+1} / N_r in exact micro-units (NULL where
    N_{r+1} = 0 — the raw estimator's well-known gap, left visible
    rather than smoothed away), each count class's share of total
    gram mass, and the headline number: the UNSEEN-species mass
    N_1 / N (the probability the next trigram drawn was never seen —
    COALESCEd to 0 if the corpus ever has no hapaxes), the quantity
    that calibrates LM smoothing and tells a crawl how much n-gram
    coverage it is still missing (q_capture_recapture answers the
    same question from two samples). First 10 count classes.

    Scale: one gram explode + aggregate (|gram types| keys, map-side
    partials), one |classes|-row self-join on r+1, windows over
    |classes| rows."""
    # r8: scan fan-out + zip-form grams (identical values)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select(tokens().alias("tk"))
    counts = (
        tk.select(F.explode(ngram_join(F.col("tk"), 3)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    fof = counts.groupBy("r").agg(F.count(F.lit(1)).alias("n_r"))
    f2 = fof.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    g = (
        fof.join(F.broadcast(f2), "r", "left")
        .withColumn(
            "n_tokens",
            F.expr("CAST(SUM(r * n_r) OVER () AS BIGINT)"),
        )
        .localCheckpoint(eager=True)  # |classes| rows feed two branches
    )
    unseen = g.agg(
        F.coalesce(
            F.expr(
                "CAST(SUM(CASE WHEN r = 1"
                " THEN (1000000000 * n_r) div n_tokens END) AS BIGINT)"
            ),
            F.lit(0),
        ).alias("unseen_mass_ppb")
    )
    return (
        g.crossJoin(F.broadcast(unseen))
        .select(
            "r",
            "n_r",
            F.expr(
                "CAST(CASE WHEN n_r1 IS NOT NULL"
                " THEN (1000000 * (r + 1) * n_r1) div n_r END AS BIGINT)"
            ).alias("r_star_micro"),
            F.expr(
                "CAST((1000000000 * n_r * r) div n_tokens AS BIGINT)"
            ).alias("mass_ppb"),
            "unseen_mass_ppb",
        )
        .orderBy("r")
        .limit(10)
    )


@query(
    "q_tokenizer_fertility",
    oracle="""
    WITH words AS (
      SELECT lang, doc_id, n_chars,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    per_doc AS (
      SELECT lang, doc_id, MAX(n_chars) AS n_chars,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM((length(w) + 3) // 4) AS BIGINT) AS n_subwords
      FROM words WHERE w <> ''
      GROUP BY lang, doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS words,
           CAST(SUM(n_subwords) AS BIGINT) AS subwords,
           CAST((1000000 * SUM(n_subwords)) // SUM(n_words) AS BIGINT)
             AS fertility_ppm,
           CAST((1000000 * SUM(n_chars)) // SUM(n_subwords) AS BIGINT)
             AS chars_per_token_ppm
    FROM per_doc GROUP BY lang
    """,
    tags=("text", "tokenizer", "fertility", "llm-pipeline"),
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language: subwords-per-word and
    chars-per-token ratios under a FIXED-WIDTH 4-char subword proxy
    (ceil(len/4) pieces per word — a deterministic stand-in for a BPE
    segmenter; swap q_bpe_apply's merges in for the production
    number). Fertility is the compute-cost multiplier language
    imbalance induces (high-fertility languages pay more tokens per
    word), the standard multilingual-tokenizer health metric.

    Scale: all map-side HOF arithmetic (no explode needed on the
    Spark side — aggregate() folds word lengths inside the row),
    then one (lang) hash aggregate; the oracle's unnest is the SQL
    spelling of the same fold."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    per_doc = d.select(
        "lang",
        "n_chars",
        F.size(toks).alias("n_words"),
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.call_function("div", F.length(w) + 3, F.lit(4)),
        ).alias("n_subwords"),
    ).filter(F.col("n_words") > 0)
    # n_words > 0 mirrors the oracle's per_doc (WHERE w <> '' before the
    # GROUP BY drops zero-word docs there); without it an empty /
    # whitespace-only document would count toward n_docs on the Spark
    # side only and break parity.
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words"),
        F.sum("n_subwords").alias("subwords"),
        F.expr(
            "CAST((1000000 * SUM(n_subwords)) div SUM(n_words) AS BIGINT)"
        ).alias("fertility_ppm"),
        F.expr(
            "CAST((1000000 * SUM(n_chars)) div SUM(n_subwords) AS BIGINT)"
        ).alias("chars_per_token_ppm"),
    )


# ---------------------------------------------------------------------
# q_source_jsd (round 7)
# ---------------------------------------------------------------------

_JSD_LN2_MICRO = 693_147  # round(ln(2) * 1e6), precomputed literal


@query(
    "q_source_jsd",
    oracle=f"""
    WITH tf AS MATERIALIZED (
      SELECT source, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents)
      WHERE t <> ''
      GROUP BY source, t
    ),
    tot AS MATERIALIZED (
      SELECT source, CAST(SUM(tf) AS BIGINT) AS tf_total FROM tf
      GROUP BY source
    ),
    common AS (
      SELECT a.source AS s1, b.source AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(a.tf) AS BIGINT) AS sa,
             CAST(SUM(b.tf) AS BIGINT) AS sb,
             CAST(SUM(a.tf * CAST(ROUND(1000000.0 * ln(
                    2.0 * CAST(a.tf AS DOUBLE) * tb.tf_total
                    / (CAST(a.tf AS DOUBLE) * tb.tf_total
                       + CAST(b.tf AS DOUBLE) * ta.tf_total)))
                  AS BIGINT)) AS BIGINT) AS k1_micro,
             CAST(SUM(b.tf * CAST(ROUND(1000000.0 * ln(
                    2.0 * CAST(b.tf AS DOUBLE) * ta.tf_total
                    / (CAST(a.tf AS DOUBLE) * tb.tf_total
                       + CAST(b.tf AS DOUBLE) * ta.tf_total)))
                  AS BIGINT)) AS BIGINT) AS k2_micro
      FROM tf a
      JOIN tf b ON b.term = a.term AND a.source < b.source
      JOIN tot ta ON ta.source = a.source
      JOIN tot tb ON tb.source = b.source
      GROUP BY a.source, b.source
    )
    SELECT c.s1, c.s2, c.n_common,
           CAST(ROUND((
             (CAST(c.k1_micro AS DOUBLE)
              + CAST(ta.tf_total - c.sa AS DOUBLE) * {_JSD_LN2_MICRO})
               / (2.0 * CAST(ta.tf_total AS DOUBLE))
             + (CAST(c.k2_micro AS DOUBLE)
                + CAST(tb.tf_total - c.sb AS DOUBLE) * {_JSD_LN2_MICRO})
               / (2.0 * CAST(tb.tf_total AS DOUBLE)))) AS BIGINT)
             AS jsd_micro
    FROM common c
    JOIN tot ta ON ta.source = c.s1
    JOIN tot tb ON tb.source = c.s2
    """,
    tags=("text", "jensen-shannon", "corpus-similarity", "llm-pipeline"),
)
def q_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between source term
    distributions — the bounded, symmetric KL the mixture-design
    literature actually uses (0 = identical distributions, ln 2 =
    disjoint support): the information-theoretic companion to
    q_source_tv_distance's L1 — TV bounds mass moved, JSD weighs
    WHERE it moved (rare-term disagreements count more).

    Exactness: with p = a/A, q = b/B, each KL argument 2p/(p+q)
    reduces to the EXACT integer ratio 2aB/(aB+bA) — one ln per
    (pair, term) over exactly-equal doubles, quantized to micro-nats,
    weighted by the exact integer count; exclusive-support terms
    contribute ln 2 exactly, folded in closed form via (A − Σ_common
    a)·ln2 with a precomputed integer literal. The final combination
    is the same arithmetic expression over identical exact operands
    on both engines, rounded once.

    Scale: one (source, term) aggregate (map-side partials), a
    term-keyed self-join whose shuffle is posting-bounded (never
    |corpus|²), |sources|-row total stitches."""
    tok = load_table(spark, sf_dir, "documents").select(
        "source", F.explode(words()).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("source", "term").agg(F.count(F.lit(1)).alias("tf"))
    tot = tf.groupBy("source").agg(F.sum("tf").alias("tf_total"))
    a = tf.select(
        F.col("source").alias("s1"), "term", F.col("tf").alias("tfa")
    )
    b = tf.select(
        F.col("source").alias("s2"), "term", F.col("tf").alias("tfb")
    )
    ta = tot.select(F.col("source").alias("s1"), F.col("tf_total").alias("ta"))
    tb = tot.select(F.col("source").alias("s2"), F.col("tf_total").alias("tb"))
    denom = (
        F.col("tfa").cast("double") * F.col("tb")
        + F.col("tfb").cast("double") * F.col("ta")
    )
    k1 = F.col("tfa") * F.round(
        F.lit(1_000_000.0)
        * F.log(F.lit(2.0) * F.col("tfa").cast("double") * F.col("tb") / denom)
    ).cast("long")
    k2 = F.col("tfb") * F.round(
        F.lit(1_000_000.0)
        * F.log(F.lit(2.0) * F.col("tfb").cast("double") * F.col("ta") / denom)
    ).cast("long")
    common = (
        a.join(b, "term")
        .filter(F.col("s1") < F.col("s2"))
        .join(F.broadcast(ta), "s1")
        .join(F.broadcast(tb), "s2")
        .groupBy("s1", "s2")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum("tfa").alias("sa"),
            F.sum("tfb").alias("sb"),
            F.sum(k1).alias("k1_micro"),
            F.sum(k2).alias("k2_micro"),
        )
    )
    out = (
        common.join(F.broadcast(ta), "s1")
        .join(F.broadcast(tb), "s2")
        .select(
            "s1",
            "s2",
            "n_common",
            F.round(
                (
                    F.col("k1_micro").cast("double")
                    + (F.col("ta") - F.col("sa")).cast("double")
                    * F.lit(_JSD_LN2_MICRO)
                )
                / (F.lit(2.0) * F.col("ta").cast("double"))
                + (
                    F.col("k2_micro").cast("double")
                    + (F.col("tb") - F.col("sb")).cast("double")
                    * F.lit(_JSD_LN2_MICRO)
                )
                / (F.lit(2.0) * F.col("tb").cast("double"))
            )
            .cast("long")
            .alias("jsd_micro"),
        )
    )
    return out


# ---------------------------------------------------------------------
# q_chao1_richness (round 8)
# ---------------------------------------------------------------------


@query(
    "q_chao1_richness",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ts
      FROM documents
    ),
    grams AS (
      SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS term
      FROM (
        SELECT ts, unnest(generate_series(1, len(ts) - 2)) AS i FROM toks
      )
    ),
    counts AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS r FROM grams GROUP BY term
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(r) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           CAST(COUNT(*)
                + (SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END)
                   * (SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END) - 1))
                  // (2 * (SUM(CASE WHEN r = 2 THEN 1 ELSE 0 END) + 1))
             AS BIGINT) AS chao1_est,
           CAST(1000000
                - (1000000 * SUM(CASE WHEN r = 1 THEN 1 ELSE 0 END))
                  // SUM(r) AS BIGINT) AS coverage_ppm
    FROM counts
    """,
    tags=("text", "chao1", "species-richness", "vocabulary"),
)
def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 species-richness estimate of the trigram vocabulary
    (Chao 1984, bias-corrected form): how many trigram TYPES does the
    underlying language have, including the ones this corpus hasn't
    seen yet — chao1 = V + F1(F1-1)/(2(F2+1)) from the observed type
    count and the hapax/doubleton counts, plus Good's sample coverage
    1 - F1/N. The crawl-sizing companion to q_good_turing (unseen
    MASS) and q_vocab_growth (the empirical Heaps curve): richness
    says where the curve plateaus, coverage says how far along it the
    corpus already is.

    Exactness: type and frequency-class counts are exact integers from
    one aggregate; the estimator and coverage are truncating integer
    divisions (the +1 in the bias-corrected denominator also removes
    the F2 = 0 division guard).

    Scale: one gram explode + hash aggregate (|gram types| keys,
    map-side partials) + one 1-row moment reduction — the same plan
    spine as q_good_turing, reduced instead of classed."""
    # r8: scan fan-out + zip-form grams (identical values)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select(tokens().alias("tk"))
    counts = (
        tk.select(F.explode(ngram_join(F.col("tk"), 3)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("r"))
    )
    return counts.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.sum("r").alias("n_tokens"),
        F.sum(F.when(F.col("r") == 1, 1).otherwise(0)).alias("f1"),
        F.sum(F.when(F.col("r") == 2, 1).otherwise(0)).alias("f2"),
    ).select(
        "n_types",
        "n_tokens",
        F.col("f1").cast("long").alias("f1"),
        F.col("f2").cast("long").alias("f2"),
        F.expr(
            "CAST(n_types + (f1 * (f1 - 1)) div (2 * (f2 + 1)) AS BIGINT)"
        ).alias("chao1_est"),
        F.expr(
            "CAST(1000000 - (1000000 * f1) div n_tokens AS BIGINT)"
        ).alias("coverage_ppm"),
    )


# ---------------------------------------------------------------------
# q_weighted_jaccard (round 8, session 3)
# ---------------------------------------------------------------------


@query(
    "q_weighted_jaccard",
    oracle="""
    WITH tf AS (
      SELECT source, t.tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents,
           unnest(list_filter(string_split(text, ' '), x -> x <> ''))
             AS t(tok)
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, CAST(SUM(tf) AS BIGINT) AS t FROM tf GROUP BY source
    ),
    mins AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS smin
      FROM tf a JOIN tf b ON b.tok = a.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT sa, sb,
           CAST((1000000 * smin) // (ta.t + tb.t - smin) AS BIGINT)
             AS jw_ppm
    FROM mins JOIN tot ta ON ta.source = sa JOIN tot tb ON tb.source = sb
    ORDER BY jw_ppm DESC, sa, sb LIMIT 20
    """,
    tags=("text", "weighted-jaccard", "similarity", "profiles"),
)
def q_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard similarity between source term
    PROFILES, top-20 pairs: J_w = sum min(tf_a, tf_b) / sum
    max(tf_a, tf_b) — the count-sensitive profile distance next to
    q_source_tv_distance (L1 on probabilities) and q_source_jsd
    (information divergence): two sources with the same vocabulary at
    very different token volumes score LOW here and identically on
    normalized divergences. The union-side sum never materializes:
    sum max = T_a + T_b - sum min, so only shared-token rows join.

    Scale: the profile table is |sources| x vocab; the pair join is
    token-keyed with fan-out sum_tok df(tok)^2 (df = sources carrying
    the token, <= |sources| — bounded by the source taxonomy, not the
    corpus); totals broadcast; top-20 is TakeOrdered."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "source",
            F.explode(tokens()).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    tot = tf.groupBy("source").agg(F.sum("tf").alias("t"))
    a = tf.select(
        F.col("source").alias("sa"), F.col("tok").alias("ta_tok"),
        F.col("tf").alias("tfa"),
    )
    b = tf.select(
        F.col("source").alias("sb"), F.col("tok").alias("tb_tok"),
        F.col("tf").alias("tfb"),
    )
    mins = (
        a.join(
            b,
            (F.col("tb_tok") == F.col("ta_tok"))
            & (F.col("sa") < F.col("sb")),
        )
        .groupBy("sa", "sb")
        .agg(F.sum(F.least(F.col("tfa"), F.col("tfb"))).alias("smin"))
    )
    ta = tot.select(F.col("source").alias("sa"), F.col("t").alias("t_a"))
    tb = tot.select(F.col("source").alias("sb"), F.col("t").alias("t_b"))
    return (
        mins.join(F.broadcast(ta), "sa")
        .join(F.broadcast(tb), "sb")
        .select(
            "sa",
            "sb",
            F.expr(
                "CAST((1000000 * smin) div (t_a + t_b - smin) AS BIGINT)"
            ).alias("jw_ppm"),
        )
        .orderBy(F.desc("jw_ppm"), "sa", "sb")
        .limit(20)
    )
