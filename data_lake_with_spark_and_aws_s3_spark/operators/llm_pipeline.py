"""Training-data pipeline operators beyond dedup/similarity: eval-set
decontamination, deterministic splits, per-language quotas,
repetition/quality signals, PII redaction, and context-window
chunking. All DuckDB-oracle-checked (deterministic md5-based
"randomness" so both engines agree bit-for-bit).

Scale posture:
- decontamination broadcasts the (small) eval-set shingle table into
  a shuffle-free map-side join against the training corpus — the
  standard 13-gram-overlap decontamination shape at 100 TB;
- splits / quotas / signals / redaction / chunking are pure per-row
  codegen or one windowed shuffle — all linear, no collect().
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from collections.abc import Iterator

import pandas as pd

from ..functions.textops import shingle_set, tokens, words
from ..registry import query
from ..sources.loader import fan_out, load_table
from .text import _STOPWORDS, _SW_SQL

# Shared: md5-hex -> integer in [0, 65536) from the first 4 hex digits,
# computable identically in Spark and DuckDB (no hex->int builtin is
# shared by both dialects; digit-by-digit instr math is). Canonical
# home is the import-order-safe leaf module _sqlutil (corpus.py loads
# before this module in operators/__init__); re-exported here because
# stats.py / sampling.py / text.py historically import it from this
# module.
from ._sqlutil import _HEX, _hex_val_sql  # noqa: F401, E402


@query(
    "q_decontaminate",
    oracle="""
    WITH ts AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0)),
               i -> array_to_string(toks[i+1:i+4], ' ')))) AS shingle
      FROM ts
    ), ev AS (
      SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0
    )
    SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS n_shared
    FROM sh s JOIN ev ON ev.shingle = s.shingle
    WHERE s.doc_id % 97 <> 0
    GROUP BY s.doc_id
    """,
    tags=("pipeline", "decontamination", "ngram"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any
    4-token shingle with the held-out eval slice (doc_id % 97 == 0
    stands in for the benchmark set), with the overlap count per doc —
    the GPT-3-style n-gram decontamination pass.

    Scale shape: the eval side is small by construction, so its
    distinct shingle set BROADCASTS — the training corpus is scanned
    once, map-side joined, and only matching (doc, shingle) rows enter
    the one aggregate shuffle. O(corpus) with no candidate explosion."""
    # r8: scan fan-out + zip-form shingles (identical values)
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select("doc_id", words().alias("tk"))
    shingles = shingle_set(F.col("tk"), 4)
    sh = tk.select("doc_id", F.explode(shingles).alias("shingle"))
    ev = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("n_shared"))
    )


@query(
    "q_hash_split",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang,
             {_hex_val_sql("md5(CAST(doc_id AS VARCHAR))")} % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
    FROM b
    """,
    tags=("pipeline", "split", "hash"),
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = first 4 hex
    digits of md5(doc_id) mod 100 -> 80/10/10 split. Hash-based (not
    rand(seed)) so the assignment is stable across engines, reruns,
    and repartitioning — the property a reproducible pipeline needs.
    Pure per-row codegen, no shuffle."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    bucket = F.expr(_hex_val_sql("h")) % 100  # same expr string as the oracle
    return d.select(
        "doc_id",
        "lang",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test").alias("split"),
    )


@query(
    "q_lang_quota",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 25
    """,
    tags=("pipeline", "sampling", "quota", "window"),
)
def q_lang_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quota sampling: keep (up to) 25 documents per
    language, chosen by deterministic md5 priority — the
    language-balancing downsample of a corpus build, reproducible
    across engines/runs. One window shuffle on lang; at 100 TB a
    hot language is bounded by rank short-circuit (WindowGroupLimit
    pushes rk <= 25 below the sort)."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 25)
    )


@query(
    "q_repetition_signals",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ts
      FROM documents
    )
    SELECT doc_id,
           CAST(len(ts) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(ts)) AS DOUBLE) / len(ts) AS distinct_ratio,
           1.0 - CAST(len(list_distinct(list_transform(
                   range(0, len(ts) - 1),
                   i -> ts[i+1] || ' ' || ts[i+2]))) AS DOUBLE)
                 / (len(ts) - 1) AS dup_bigram_ratio,
           CAST(list_max(list_transform(list_distinct(ts),
                   d -> len(list_filter(ts, x -> x = d)))) AS DOUBLE)
             / len(ts) AS top_token_share
    FROM t
    """,
    tags=("pipeline", "quality", "repetition"),
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/quality signals per document:
    distinct-token ratio, duplicate-bigram ratio, and the share of the
    single most frequent token. High duplicate ratios mark boilerplate
    and degenerate repetition — standard pretraining quality filters.

    Entirely per-row higher-order functions (no explode, no shuffle,
    whole-stage codegen): the inner top-token count is
    O(distinct x len) per document, bounded by document length, and
    parallelizes embarrassingly. Every ratio is an exact int/int
    division — identical doubles cross-engine.

    The token array is materialized by a projection BEFORE the metric
    expressions: Catalyst's common-subexpression elimination does not
    reach inside higher-order-function lambdas, so the inline form
    re-splits the text once per metric (measured 4.6x slower)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", tokens().alias("ts"))
    ts = F.col("ts")
    n = F.size(ts)
    bigrams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.concat(F.element_at(ts, i + 1), F.lit(" "), F.element_at(ts, i + 2)),
    )
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(ts), lambda t: F.size(F.filter(ts, lambda x: x == t))
        )
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(ts)).cast("double") / n).alias("distinct_ratio"),
        (F.lit(1.0) - F.size(F.array_distinct(bigrams)).cast("double") / (n - 1)).alias(
            "dup_bigram_ratio"
        ),
        (top_cnt.cast("double") / n).alias("top_token_share"),
    )


_EMAIL_PAT = "[a-z0-9]+@[a-z0-9.]+\\.[a-z][a-z]+"
_PHONE_PAT = "555-[0-9]+"


@query(
    "q_pii_redact",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@' || lang
                  || '.example.com phone 555-0' || CAST(doc_id % 100 AS VARCHAR)
               AS augmented
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(augmented, '{_EMAIL_PAT}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(augmented, '{_PHONE_PAT}')) AS BIGINT)
             AS n_phones,
           md5(regexp_replace(regexp_replace(augmented, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                              '{_PHONE_PAT}', '<PHONE>', 'g')) AS redacted_md5,
           CAST(length(regexp_replace(regexp_replace(augmented, '{_EMAIL_PAT}', '<EMAIL>', 'g'),
                                      '{_PHONE_PAT}', '<PHONE>', 'g')) AS BIGINT)
             AS redacted_len
    FROM aug
    """,
    tags=("pipeline", "pii", "regex"),
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and mask email/phone patterns.
    The synthetic corpus contains no PII, so a deterministic contact
    string (derived from doc_id/lang, identical in both engines) is
    grafted onto each document first — the detection/redaction path is
    then exercised for real and value-checked via match counts and the
    md5 of the redacted text. Java regex and RE2 agree on this
    restricted pattern class (no backrefs/lookaround). Pure per-row
    codegen; at 100 TB this is a map-only pass."""
    d = load_table(spark, sf_dir, "documents")
    augmented = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("lang"),
        F.lit(".example.com phone 555-0"),
        (F.col("doc_id") % 100).cast("string"),
    )
    a = d.select("doc_id", augmented.alias("augmented"))
    redacted = F.regexp_replace(
        F.regexp_replace("augmented", _EMAIL_PAT, "<EMAIL>"), _PHONE_PAT, "<PHONE>"
    )
    return a.select(
        "doc_id",
        F.size(F.regexp_extract_all("augmented", F.lit(_EMAIL_PAT), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("augmented", F.lit(_PHONE_PAT), 0)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


@query(
    "q_doc_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ), starts AS (
      SELECT doc_id, ts, unnest(range(0, len(ts), 16)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // 16 AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_token,
           CAST(len(ts[start+1:start+32]) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(ts[start+1:start+32], ' ')) AS chunk_md5
    FROM starts
    """,
    tags=("pipeline", "chunking", "explode"),
)
def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: split every document into 32-token
    windows with stride 16 (50% overlap) — the packing prep step for
    fixed-context training. Emits chunk position, actual token count
    (the tail window may be short) and the md5 of the chunk text
    (hash, not text, keeps the output narrow).

    explode(sequence(...)) is map-side — one scan, no shuffle; chunk
    counts scale with corpus size, never quadratically."""
    d = load_table(spark, sf_dir, "documents")
    ts = words()
    starts = F.sequence(F.lit(0), F.size(ts) - 1, F.lit(16))
    s = d.select("doc_id", ts.alias("ts"), F.explode(starts).alias("start"))
    chunk = F.slice("ts", F.col("start") + 1, 32)
    return s.select(
        "doc_id",
        (F.col("start") / 16).cast("long").alias("chunk_idx"),
        F.col("start").cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_md5"),
    )


@query(
    "q_pack_sequences",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, source,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS pri
      FROM documents
    ), c AS (
      SELECT doc_id, lang, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY pri, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_end
      FROM t
    )
    SELECT doc_id, lang, source, n_tokens,
           CAST(cum_end - n_tokens AS BIGINT) AS start_token,
           CAST((cum_end - n_tokens) // 256 AS BIGINT) AS first_pack,
           CAST((cum_end - 1) // 256 AS BIGINT) AS last_pack
    FROM c
    """,
    tags=("pipeline", "packing", "window"),
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for fixed-context training: within each
    (lang, source) stratum, documents are concatenated in a
    deterministic md5-priority order and cut into 256-token context
    windows; each document learns its global token offset and the
    pack range it spans (a doc crossing a boundary belongs to two
    packs — the usual pack-and-span bookkeeping).

    The running offset is a windowed cumulative sum PARTITIONED BY the
    stratum — no global single-partition window. At 100 TB, if one
    stratum dominates, swap the window for the two-pass prefix-sum
    pattern used by q_theta_join (per-range partial sums + broadcast
    offsets); semantics are unchanged. Integer token counts make every
    offset exact cross-engine."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens()).cast("long")
    t = d.select(
        "doc_id", "lang", "source", n_tokens.alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("pri"),
    )
    w = (
        Window.partitionBy("lang", "source")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_end", F.sum("n_tokens").over(w))
    start = F.col("cum_end") - F.col("n_tokens")
    return c.select(
        "doc_id", "lang", "source", "n_tokens",
        start.cast("long").alias("start_token"),
        F.floor(start / 256).cast("long").alias("first_pack"),
        F.floor((F.col("cum_end") - 1) / 256).cast("long").alias("last_pack"),
    )


@query(
    "q_embed_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ), s AS (
      SELECT vec_id, label, e,
             127.0 / list_max(list_transform(e, x -> abs(x))) AS scale
      FROM v
    ), q AS (
      SELECT vec_id, label, scale,
             list_transform(e, x -> CAST(ROUND(x * scale, 0) AS BIGINT)) AS qe,
             e
      FROM s
    )
    SELECT vec_id, label, scale,
           CAST(list_reduce(qe, (a, b) -> a + b) AS BIGINT) AS q_sum,
           CAST(list_reduce(list_transform(qe, x -> abs(x)), (a, b) -> a + b)
                AS BIGINT) AS q_l1,
           CAST(len(list_filter(qe, x -> abs(x) = 127)) AS BIGINT) AS n_saturated,
           list_max(list_transform(range(1, 65),
               i -> abs(qe[i] / scale - e[i]))) AS max_abs_err
    FROM q
    """,
    tags=("pipeline", "embedding", "quantization"),
)
def q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the storage/serving
    compression step of an embedding pipeline): per-vector scale =
    127/max|x|, elements rounded onto the int8 grid, with integrity
    stats — quantized checksum, L1 mass, saturation count, and the
    max absolute reconstruction error.

    Map-only (no shuffle). Exactness: float32 -> double widening is
    exact, the scale division and per-element rounding are single
    IEEE ops identical in both engines, and the checksums are integer
    sums (order-independent). max_abs_err is a max — not a sum — of
    deterministic doubles, so it is also bit-stable."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", "label", e.alias("e"))
    scale = F.lit(127.0) / F.array_max(F.transform("e", lambda x: F.abs(x)))
    s = v.withColumn("scale", scale)
    qe = F.transform("e", lambda x: F.round(x * F.col("scale"), 0).cast("long"))
    q = s.withColumn("qe", qe)
    err = F.array_max(
        F.zip_with("qe", "e", lambda qi, xi: F.abs(qi / F.col("scale") - xi))
    )
    return q.select(
        "vec_id",
        "label",
        "scale",
        F.aggregate("qe", F.lit(0).cast("long"), lambda a, b: a + b).alias("q_sum"),
        F.aggregate(
            "qe", F.lit(0).cast("long"), lambda a, b: a + F.abs(b)
        ).alias("q_l1"),
        F.size(F.filter("qe", lambda x: F.abs(x) == 127)).cast("long").alias("n_saturated"),
        err.alias("max_abs_err"),
    )


@query(
    "q_mixture_sample",
    oracle=f"""
    WITH n AS (
      SELECT lang, COUNT(*) AS n_lang FROM documents GROUP BY lang
    ), tot AS (SELECT CAST(SUM(n_lang) AS BIGINT) AS n_total FROM n),
    r AS (
      SELECT lang, n_lang,
             least(1.0, sqrt(CAST(n_total AS DOUBLE) / n_lang) * 0.2) AS keep_rate
      FROM n, tot
    )
    SELECT d.doc_id, d.lang,
           CAST({_hex_val_sql("md5(CAST(d.doc_id AS VARCHAR) || d.lang)")}
                AS DOUBLE) / 65536.0 AS u,
           r.keep_rate
    FROM documents d JOIN r ON r.lang = d.lang
    WHERE CAST({_hex_val_sql("md5(CAST(d.doc_id AS VARCHAR) || d.lang)")}
               AS DOUBLE) / 65536.0 < r.keep_rate
    """,
    tags=("pipeline", "sampling", "mixture"),
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-style mixture resampling: per-language keep rate
    ∝ 1/sqrt(language share) capped at 1 — rare languages keep more of
    their documents, dominant ones are downsampled (the alpha=0.5
    flattening of a training-mixture build). The keep decision is
    md5-uniform, so the SAMPLE ITSELF is deterministic and
    engine-independent — rerunning the pipeline reproduces the corpus
    byte-for-byte, unlike rand(seed) which is engine- and
    partitioning-dependent.

    Exactness: every float op (one division, one sqrt, one multiply,
    least) is a single correctly-rounded IEEE step on exact integer
    inputs — no cross-group double SUM anywhere. Scale: pass 1
    aggregates language counts reading ONE pruned column; the rates
    (|langs| rows) broadcast back into the map-side filter of the full
    pass — no fact shuffle at all."""
    d = load_table(spark, sf_dir, "documents")
    n = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_lang"))
    tot = n.groupBy().agg(F.sum("n_lang").alias("n_total"))
    r = n.crossJoin(F.broadcast(tot)).select(
        "lang",
        F.least(
            F.lit(1.0),
            F.sqrt(F.col("n_total").cast("double") / F.col("n_lang")) * 0.2,
        ).alias("keep_rate"),
    )
    u = (
        F.expr(_hex_val_sql("md5(CAST(doc_id AS STRING) || lang)")).cast("double")
        / 65536.0
    )
    return (
        d.join(F.broadcast(r), "lang")
        .select("doc_id", "lang", u.alias("u"), "keep_rate")
        .filter(F.col("u") < F.col("keep_rate"))
    )


@query(
    "q_token_rarity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(CAST(SUM(v.c) AS BIGINT) AS DOUBLE) / COUNT(*) AS mean_token_freq,
           CAST(count_if(v.c <= 2) AS BIGINT) AS n_rare,
           CAST(CAST(count_if(v.c <= 2) AS BIGINT) AS DOUBLE) / COUNT(*) AS rare_frac
    FROM tok t JOIN vocab v ON v.tok = t.tok
    GROUP BY t.doc_id
    """,
    tags=("pipeline", "quality", "vocab"),
)
def q_token_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistical quality scoring without transcendentals: per
    document, the mean corpus frequency of its tokens and the fraction
    of rare (freq <= 2) tokens — the unigram-LM quality signal with
    log() deliberately avoided (libm log differs by ULPs across
    engines; integer sums and single divisions do not).

    Shape: one vocab aggregate (map-side combined), one token-keyed
    join back, one per-doc aggregate. The token join key is Zipf-skewed
    at scale — the vocab side aggregates to distinct tokens first (so
    it's the SMALL side, broadcastable for real corpora's vocab; AQE
    skew-join handles the explode side otherwise)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(tokens()).alias("tok"),
    )
    vocab = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return (
        tok.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (F.sum("c").cast("double") / F.count(F.lit(1))).alias("mean_token_freq"),
            F.count_if(F.col("c") <= 2).alias("n_rare"),
            (
                F.count_if(F.col("c") <= 2).cast("double") / F.count(F.lit(1))
            ).alias("rare_frac"),
        )
    )



@query(
    "q_cascade_delete",
    oracle="""
    WITH del AS (
      SELECT user_id FROM (
        SELECT user_id, CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_err
        FROM events GROUP BY user_id
      ) WHERE n_err >= 19
    ),
    kept AS (
      SELECT e.user_id, e.event_id FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM del d WHERE d.user_id = e.user_id)
    )
    SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_deleted_users,
           CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_events_before,
           CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS n_events_after,
           CAST((SELECT COUNT(*) FROM events) - (SELECT COUNT(*) FROM kept)
                AS BIGINT) AS n_events_purged,
           (SELECT COUNT(*) FROM kept k JOIN del d ON d.user_id = k.user_id) = 0
             AS no_survivor_rows
    """,
    tags=("pipeline", "governance", "deletion", "anti-join"),
)
def q_cascade_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-request propagation (GDPR/right-to-be-forgotten
    shape): a deterministic deletion cohort (users with >= 19 error
    events stands in for the request table) anti-joins every
    downstream table, with an audit row proving completeness — the
    no_survivor_rows invariant is the thing a regulator asks for.

    Scale: the request table is small by nature -> broadcast anti
    join, so each fact table is purged in one scan with NO shuffle of
    the fact side; the audit counts ride the same scans. On a
    lakehouse table this pairs with q_merge_with_deletes (rewrite) and
    q_snapshot_diff (verification feed)."""
    e = load_table(spark, sf_dir, "events")
    del_users = (
        e.groupBy("user_id")
        .agg(F.count_if(F.col("event_type") == "error").alias("n_err"))
        .filter(F.col("n_err") >= 19)
        .select("user_id")
    )
    kept = e.join(F.broadcast(del_users), "user_id", "left_anti")
    survivors = kept.join(F.broadcast(del_users), "user_id", "left_semi")
    return (
        del_users.agg(F.count(F.lit(1)).alias("n_deleted_users"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_events_before")))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_events_after")))
        .crossJoin(survivors.agg(F.count(F.lit(1)).alias("n_surv")))
        .select(
            "n_deleted_users",
            "n_events_before",
            "n_events_after",
            (F.col("n_events_before") - F.col("n_events_after")).alias(
                "n_events_purged"
            ),
            (F.col("n_surv") == 0).alias("no_survivor_rows"),
        )
    )


@query(
    "q_filter_ablation",
    oracle="""
    WITH flags AS (
      SELECT doc_id,
             n_chars < 100 AS too_short,
             lang NOT IN ('en', 'es', 'de', 'fr') AS lang_blocked,
             len(string_split(text, ' ')) -
               len(list_distinct(string_split(text, ' '))) >
               len(string_split(text, ' ')) // 2 AS high_repetition
      FROM documents
    )
    SELECT too_short, lang_blocked, high_repetition,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM flags
    GROUP BY CUBE (too_short, lang_blocked, high_repetition)
    """,
    tags=("pipeline", "quality", "ablation", "grouping-sets"),
)
def q_filter_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-ablation matrix for the curation pipeline: CUBE over the
    three gating predicates (length floor, language allowlist,
    repetition ceiling) counts documents for every filter combination
    — the diagnostic a pipeline owner reads before tightening a
    threshold ("how many docs does each filter UNIQUELY kill?"). The
    NULL rows of the cube are the marginals; the all-flags row is the
    joint. One scan, one grouping-sets aggregate whose key space is
    3^3 regardless of corpus size.

    Flags are exact integer/set predicates (no floats): repetition =
    more than half the tokens are repeats of earlier tokens."""
    d = load_table(spark, sf_dir, "documents")
    toks = words()
    flags = d.select(
        "doc_id",
        (F.col("n_chars") < 100).alias("too_short"),
        (~F.col("lang").isin("en", "es", "de", "fr")).alias("lang_blocked"),
        (
            (F.size(toks) - F.size(F.array_distinct(toks)))
            > F.call_function("div", F.size(toks), F.lit(2))
        ).alias("high_repetition"),
    )
    return flags.cube("too_short", "lang_blocked", "high_repetition").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@query(
    "q_model_inference_iter",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                  AS BIGINT) AS n_tokens,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_letters,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ({_SW_SQL}))) AS BIGINT) AS n_stop
      FROM documents
    )
    SELECT doc_id, n_tokens,
           CAST(7 * n_tokens - 3 * n_stop + 2 * n_letters - 500 AS BIGINT)
             AS logit_milli
    FROM feats
    """,
    tags=("udf", "pandas-udf-iterator", "llm-pipeline", "inference"),
)
def q_model_inference_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch MODEL INFERENCE via the iterator-of-batches pandas UDF —
    the pattern for running a trained model over a 100 TB corpus: the
    iterator form loads the model ONCE per task (outside the batch
    loop), then scores every Arrow batch with it, amortizing a
    seconds-scale model load across millions of rows instead of paying
    it per batch. Here the "model" is a fixed integer-weight linear
    scorer over three text features (token count, stopword count,
    letter count), so the inference is exactly reproducible and the
    full output hashes — a real checkpoint load (torch/onnx) replaces
    _load_model() at the same boundary, and everything else stays.

    Scale: map-only (zero shuffle); Arrow batches keep the
    Python-side vectorized (numpy int64 ops per batch, never per
    row); executor-side model memory is per-task, not per-row. The
    oracle computes the identical integer expression in SQL."""
    @F.pandas_udf("long")
    def score_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        def _load_model():
            # the expensive once-per-task boundary: weights for
            # [n_tokens, n_stop, n_letters] + bias, in milli-units
            return np.array([7, -3, 2], dtype=np.int64), np.int64(-500)

        w, b = _load_model()
        stop = set(_STOPWORDS)
        for texts in batches:
            toks = texts.str.split(" ").map(
                lambda ts: [t for t in ts if t != ""]
            )
            n_tokens = toks.map(len).to_numpy(dtype="int64")
            n_stop = toks.map(
                lambda ts: sum(1 for t in ts if t in stop)
            ).to_numpy(dtype="int64")
            n_letters = (
                texts.str.replace(" ", "", regex=False).str.len()
                .to_numpy(dtype="int64")
            )
            logit = w[0] * n_tokens + w[1] * n_stop + w[2] * n_letters + b
            yield pd.Series(logit)

    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    return d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        score_iter("text").alias("logit_milli"),
    )


@query(
    "q_quality_percentile_filter",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             (CAST(len(list_filter(string_split(text, ' '),
                                   x -> x IN ({_SW_SQL}))) AS BIGINT)
              * 500000)
             // CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                     AS BIGINT)
             + least(CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
                          AS BIGINT), 500) AS score_units
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, score_units,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY score_units DESC, doc_id) AS lang_rank,
             COUNT(*) OVER (PARTITION BY lang) AS n_lang
      FROM scored
    )
    SELECT doc_id, lang, score_units, CAST(lang_rank AS BIGINT) AS lang_rank
    FROM ranked
    WHERE lang_rank <= (n_lang + 1) // 2
    """,
    tags=("llm-pipeline", "quality-filter", "percentile"),
)
def q_quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-based quality pruning — the curation stage between
    scoring and sampling: keep the TOP 50% of documents per language
    by quality, not those above a fixed threshold (fixed thresholds
    rot as the corpus mix shifts; percentiles self-calibrate). The
    quality key is exact-integer (stopword-ratio in milliunits via
    integer division + saturating length bonus), so ranking ties break
    identically cross-engine, and the per-language keep-count is the
    exact ceiling of n/2.

    Plan: map-side scoring (HOF codegen), ONE window shuffle on lang.
    lang is low-cardinality, so locally each language's ranking is one
    task — at 100 TB replace the full row_number with the two-pass
    threshold pattern (per-lang exact k-th score via q_winsorize's
    percentile-rank arithmetic, broadcast the |langs|-row cutoff table,
    filter map-side); the output CONTRACT is identical, which is why
    the window form is the registered truth."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens()
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(words(), lambda x: x.isin(*_STOPWORDS))).cast("long")
    scored = d.select(
        "doc_id",
        "lang",
        (
            F.call_function("div", n_stop * 500000, n_tokens)
            + F.least(n_tokens, F.lit(500))
        ).alias("score_units"),
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score_units"), "doc_id")
    ranked = scored.select(
        "doc_id",
        "lang",
        "score_units",
        F.row_number().over(w).alias("lang_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("_n_lang"),
    )
    return ranked.filter(
        F.col("lang_rank") <= F.expr("(_n_lang + 1) div 2")
    ).select("doc_id", "lang", "score_units", F.col("lang_rank").cast("long").alias("lang_rank"))


@query(
    "q_class_reweight",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
      FROM documents GROUP BY lang
    ),
    g AS (
      SELECT *,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total,
             CAST(COUNT(*) OVER () AS BIGINT) AS k
      FROM counts
    ),
    w AS (
      SELECT lang, n_docs, n_chars_total,
             CAST((1000000 * n_total) // (k * n_docs) AS BIGINT)
               AS w_inv_ppm,
             CAST((1000000000000 * n_total) // (k * n_docs) AS BIGINT)
               AS rad
      FROM g
    )
    SELECT lang, n_docs, n_chars_total, w_inv_ppm,
           CAST(CAST(FLOOR(SQRT(CAST(rad AS DOUBLE))) AS BIGINT)
                + CASE WHEN (CAST(FLOOR(SQRT(CAST(rad AS DOUBLE))) AS BIGINT) + 1)
                            * (CAST(FLOOR(SQRT(CAST(rad AS DOUBLE))) AS BIGINT) + 1)
                            <= rad THEN 1
                       WHEN CAST(FLOOR(SQRT(CAST(rad AS DOUBLE))) AS BIGINT)
                            * CAST(FLOOR(SQRT(CAST(rad AS DOUBLE))) AS BIGINT)
                            > rad THEN -1
                       ELSE 0 END AS BIGINT) AS w_sqrt_ppm
    FROM w
    """,
    tags=("pipeline", "class-weights", "mixture", "training"),
)
def q_class_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance weights for the training mixture, per language:
    inverse-frequency w = N/(K*n_k) (each class contributes equally
    after weighting) and its gentler square-root variant
    sqrt(N/(K*n_k)) (the standard compromise when full inversion
    over-amplifies rare-class noise), both as exact integer ppm. The
    sqrt is an exact integer sqrt of the ppm^2-scaled ratio — one
    double sqrt floor pinned by a wide-integer CASE correction, so
    both engines land on the identical integer even past 2^53.

    These are the per-class loss weights (or sampling temperatures) a
    trainer consumes; q_temperature_mixture reweights by corpus share
    at sampling time, this computes the loss-side correction.

    Scale: one hash aggregate to |langs| rows, one window over those
    rows. Nothing else."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars_total"),
    )
    g = counts.select(
        "*",
        F.expr("CAST(SUM(n_docs) OVER () AS BIGINT)").alias("n_total"),
        F.expr("CAST(COUNT(*) OVER () AS BIGINT)").alias("k"),
    )
    from .stats import _isqrt_wide_sql

    w = g.select(
        "lang",
        "n_docs",
        "n_chars_total",
        F.expr(
            "CAST((1000000 * n_total) div (k * n_docs) AS BIGINT)"
        ).alias("w_inv_ppm"),
        F.expr(
            "CAST((1000000000000 * n_total) div (k * n_docs) AS BIGINT)"
        ).alias("rad"),
    )
    return w.select(
        "lang",
        "n_docs",
        "n_chars_total",
        "w_inv_ppm",
        F.expr(
            f"CAST({_isqrt_wide_sql('rad', 'BIGINT')} AS BIGINT)"
        ).alias("w_sqrt_ppm"),
    )


@query(
    "q_hamilton_apportionment",
    oracle="""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY lang
    ),
    g AS (
      SELECT lang, n_docs,
             CAST(SUM(n_docs) OVER () AS BIGINT) AS n_total
      FROM counts
    ),
    q AS (
      SELECT lang, n_docs, n_total,
             CAST((10000 * n_docs) // n_total AS BIGINT) AS floor_seats,
             CAST((10000 * n_docs) % n_total AS BIGINT) AS remainder
      FROM g
    ),
    r AS (
      SELECT *,
             CAST(10000 - SUM(floor_seats) OVER () AS BIGINT) AS leftover,
             ROW_NUMBER() OVER (ORDER BY remainder DESC, lang) AS rr
      FROM q
    )
    SELECT lang, n_docs, floor_seats, remainder,
           CAST(floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS seats
    FROM r
    """,
    tags=("pipeline", "allocation", "apportionment", "mixture"),
)
def q_hamilton_apportionment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed sampling
    budget of 10,000 documents across languages, proportional to
    corpus share: every language gets floor(10000 * n/N), and the
    seats lost to flooring go one each to the largest remainders
    (ties to lexicographically smaller lang). The result is the
    integer quota vector that sums EXACTLY to the budget — the
    correct way to turn mixture weights into whole-document sampling
    quotas (naive rounding over- or under-shoots the budget; Hamilton
    never does, which is why apportionment, ad pacing, and shard
    assignment all use it). q_lang_quota then materializes a quota;
    this computes the quota vector itself, exactly.

    Scale: one hash aggregate to |langs| rows, two windows over those
    rows. The budget never touches the data."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    g = counts.select(
        "lang", "n_docs", F.expr("CAST(SUM(n_docs) OVER () AS BIGINT)").alias("n_total")
    )
    q = g.select(
        "lang",
        "n_docs",
        "n_total",
        F.expr("CAST((10000 * n_docs) div n_total AS BIGINT)").alias("floor_seats"),
        F.expr("CAST((10000 * n_docs) % n_total AS BIGINT)").alias("remainder"),
    )
    from pyspark.sql import Window as W

    r = q.select(
        "*",
        F.expr("CAST(10000 - SUM(floor_seats) OVER () AS BIGINT)").alias("leftover"),
        F.row_number()
        .over(W.orderBy(F.desc("remainder"), F.asc("lang")))
        .alias("rr"),
    )
    return r.select(
        "lang",
        "n_docs",
        "floor_seats",
        "remainder",
        F.expr(
            "CAST(floor_seats + CASE WHEN rr <= leftover THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("seats"),
    )
