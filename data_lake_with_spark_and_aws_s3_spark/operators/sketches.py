"""Count-min sketch heavy hitters over the documents token stream —
the bounded-memory frequency-sketch class of operator (Cormode &
Muthukrishnan 2005), built the Spark way: the sketch is a tiny
(depth x width) counter TABLE produced by one hash aggregate, not a
custom accumulator. depth=4 seeded hash rows, width=256 buckets:

    sketch[s][h_s(tok)] += 1        (one groupBy over (seed, bucket))
    est(tok) = min_s sketch[s][h_s(tok)]

At 100 TB the token stream never materializes anywhere: the explode ->
(seed, bucket) projection partial-aggregates map-side down to at most
depth*width = 1024 rows per partition before the one negligible
shuffle — the sketch costs a constant 1024-row exchange regardless of
corpus size, which is the entire point of a sketch. The estimate step
broadcast-joins the 1024-row sketch to the candidate keys.

Unlike most sketches, CMS has NO randomness at query time — with
fixed seeds it is a pure function of the data, so the whole operator
is exactly oracle-checkable (not just twin-bounded like HLL in
aggregates.py): both engines compute identical md5-derived bucket
indexes ([[oracle-exactness-playbook]]'s hex-digit trick, shared with
llm_pipeline.py). The output also demonstrates the CMS guarantee
estimate >= exact on every row (overestimate column is never
negative — asserted in tests/test_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.textops import tokens, words
from ..registry import query
from ..sources.loader import load_table
from .llm_pipeline import _HEX, _hex_val_sql

DEPTH = 4
WIDTH = 256
TOP_N = 20


def _bucket_sql(tok_expr: str, seed_expr: str, cast_str: str) -> str:
    """Bucket index in [0, WIDTH) — identical text works in both
    dialects except the string cast of the seed."""
    h = f"md5(concat({tok_expr}, '#', {cast_str}({seed_expr})))"
    return f"(({_hex_val_sql(h)}) % {WIDTH})"


_SPARK_BUCKET = _bucket_sql("tok", "seed", "string")


def _duck_bucket(tok: str, seed: str) -> str:
    h = f"md5({tok} || '#' || CAST({seed} AS VARCHAR))"
    return f"(({_hex_val_sql(h)}) % {WIDTH})"


_ORACLE = f"""
    WITH tok AS (
      SELECT t.tok FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    ),
    seeds AS (SELECT unnest([{", ".join(str(i) for i in range(DEPTH))}]) AS seed),
    sketch AS (
      SELECT seed, {_duck_bucket("tok", "seed")} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok CROSS JOIN seeds
      GROUP BY 1, 2
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY tok
      QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) <= {TOP_N}
    )
    SELECT e.tok AS token, e.exact_cnt,
           CAST(MIN(s.cnt) AS BIGINT) AS cms_est,
           CAST(MIN(s.cnt) - e.exact_cnt AS BIGINT) AS overestimate
    FROM exact e
    CROSS JOIN seeds sd
    JOIN sketch s
      ON s.seed = sd.seed AND s.bucket = {_duck_bucket("e.tok", "sd.seed")}
    GROUP BY e.tok, e.exact_cnt
"""


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.explode(words()).alias("tok")
    ).filter(F.col("tok") != "")


def cms_sketch(tokens: DataFrame) -> DataFrame:
    """(seed, bucket, cnt) counter table, at most DEPTH*WIDTH rows.
    Partial aggregation collapses each map task to <= 1024 rows before
    the shuffle — constant-size regardless of input."""
    seeds = F.explode(F.array(*[F.lit(i) for i in range(DEPTH)])).alias("seed")
    return (
        tokens.select("tok", seeds)
        .select("seed", F.expr(_SPARK_BUCKET).alias("bucket"))
        .groupBy("seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_cms_heavy_hitters",
    oracle=_ORACLE,
    tags=("sketch", "count-min", "heavy-hitters", "llm-pipeline"),
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 exact heavy-hitter tokens with their count-min estimates.
    exact_cnt is the ground truth, cms_est the sketch answer, and
    overestimate (= cms_est - exact_cnt) is provably >= 0."""
    toks = _tokens(spark, sf_dir)
    sketch = cms_sketch(toks)

    # top-N over the vocab-sized exact counts: orderBy().limit() plans
    # as TakeOrderedAndProject (per-partition heaps), not a global-rank
    # window holding every token type in one task (round-7 plan lint).
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok"))
        .limit(TOP_N)
    )

    seeds = F.explode(F.array(*[F.lit(i) for i in range(DEPTH)])).alias("seed")
    probes = exact.select("tok", "exact_cnt", seeds).select(
        "tok", "exact_cnt", "seed", F.expr(_SPARK_BUCKET).alias("bucket")
    )
    return (
        probes.join(F.broadcast(sketch), ["seed", "bucket"])
        .groupBy("tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            F.col("tok").alias("token"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        )
    )


_FH_DIM = 64  # hashing-trick feature dimension


@query(
    "q_feature_hash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    )
    SELECT doc_id,
           ({_hex_val_sql("md5(tok)")}) % {_FH_DIM} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY 1, 2
    """,
    tags=("sketch", "feature-hashing", "llm-pipeline"),
)
def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: tokens hash into a fixed
    {_FH_DIM}-dimensional space (md5 -> first 4 hex digits -> mod), term
    frequencies per (doc, bucket). The sparse long-form output is the
    join-friendly layout (a dense vector column would be banned by the
    driver's canonicalizer anyway); collisions are the accepted price
    of a vocabulary-free, single-pass, bounded-width encoding — the
    standard trick when a 100 TB corpus's vocabulary won't fit a
    broadcast dictionary. Plan: explode -> project (codegen md5) ->
    one hash aggregate; output <= |docs| x dim rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(words()).alias("tok")
    ).filter(F.col("tok") != "")
    bucket = f"({_hex_val_sql('md5(tok)')}) % {_FH_DIM}"
    return (
        toks.select("doc_id", F.expr(bucket).alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


# --- Mergeable Datasketches HLL rollup (SURVEY.md §2.4 approx family) --

@query(
    "q_hll_mergeable",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS direct_within_3pct,
           TRUE AS merged_within_3pct
    FROM events GROUP BY event_type
    """,
    tags=("sketch", "hll", "mergeable", "approx"),
)
def q_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch rollup — THE 100 TB distinct-count pattern:
    build one Datasketches HLL per (event_type, week) partition cell
    (hll_sketch_agg), then roll weeks up to event_type by UNIONING the
    binary sketches (hll_union_agg), never re-touching the raw data.
    At scale the weekly sketches are a few KB each and live in a
    metadata table; re-aggregating a year costs 52 sketch merges per
    key instead of a 100 TB scan.

    Oracle design (exact-twin pattern, same as q_approx_distinct):
    DuckDB cannot reproduce Datasketches register bytes, but both
    contract booleans are deterministic given the data (sketch updates
    are max-based, order/partitioning independent): direct AND merged
    estimates each land within 3% of the exact count. Measured slack at
    every shipped SF: worst deviation 0.8% (sf0.1, where the sketch has
    left exact sparse mode — merged != direct there, which is why the
    contract is a tolerance, not equality). Raw estimates stay out of
    the hash."""
    e = load_table(spark, sf_dir, "events")
    per_week = e.groupBy(
        "event_type", F.date_trunc("week", F.col("ts")).alias("week")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_week.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return direct.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est_direct").cast("double") - F.col("exact_users").cast("double"))
            <= 0.03 * F.col("exact_users").cast("double")
        ).alias("direct_within_3pct"),
        (
            F.abs(F.col("est_merged").cast("double") - F.col("exact_users").cast("double"))
            <= 0.03 * F.col("exact_users").cast("double")
        ).alias("merged_within_3pct"),
    )


# --- Hand-built distributed Bloom filter: semi-join reduction --------
#
# The pattern behind Spark's runtime row-level filtering (and every
# engine's "bloom join"): reduce a big probe side by a compact bitmap
# of the build side's keys BEFORE the real join/shuffle. Built here
# from first principles so it is EXACTLY oracle-checkable: md5-derived
# double hashing (Kirsch-Mitzenmacher: pos_i = (h1 + i*h2) mod m) into
# an m=4096-bit filter materialized as 128 x 32-bit words via bit_or —
# pure integer math both engines compute identically. (32-bit words,
# not 64: DuckDB's checked BIGINT `<<` rejects 1 << 63, and keeping
# the mask below 2^31 sidesteps sign games in both dialects.)
#
# Scale shape: the filter build is one hash aggregate collapsing to
# 128 rows regardless of build-side size (partial bit_or map-side);
# the probe is a broadcast join against those 128 rows — no shuffle of
# the probe table. False positives are bounded (~83 build keys in 4096
# bits at sf0.01 -> fp ~ 2e-4; ~880 keys at sf0.1 -> fp ~ 10%, an
# honest picture of load-factor degradation) and quantified in the
# output; false negatives are impossible (asserted as a column).

_BLOOM_BITS = 4096
_BLOOM_K = 3
_HIVAL_THRESHOLD = 497_000.0  # o_totalprice filter defining the build side


def _bloom_probe_sql(key: str, i: int, dialect: str) -> tuple[str, str]:
    """(word_idx, mask) SQL for probe i of `key` — dialect in
    {'spark','duck'}; only the bigint shift spelling differs."""
    h = f"md5(CAST({key} AS {'STRING' if dialect == 'spark' else 'VARCHAR'}))"
    h1 = _hex_val_sql(f"{h}", 4)
    # digits 5..8 as the second, independent hash value
    h2 = "CAST(0 AS BIGINT)"
    for d in range(4, 8):
        h2 = f"(({h2}) * 16 + instr('{_HEX}', substr({h}, {d + 1}, 1)) - 1)"
    pos = f"(({h1}) + {i} * ({h2})) % {_BLOOM_BITS}"
    # Integer division in BOTH dialects: `/` yields a double in each, but
    # DuckDB's double->INT cast ROUNDS while Spark's TRUNCATES, so the two
    # engines would place bits in different words whenever pos%32 >= 16.
    bit = f"CAST(({pos}) % 32 AS INT)"
    if dialect == "spark":
        word = f"CAST(({pos}) div 32 AS INT)"
        mask = f"shiftleft(CAST(1 AS BIGINT), {bit})"
    else:
        word = f"CAST(({pos}) // 32 AS INT)"
        mask = f"(CAST(1 AS BIGINT) << ({bit}))"
    return word, mask


def _duck_bloom_oracle() -> str:
    build_rows = "\n      UNION ALL\n      ".join(
        "SELECT {w} AS word_idx, {m} AS mask FROM hi".format(
            w=_bloom_probe_sql("o_custkey", i, "duck")[0],
            m=_bloom_probe_sql("o_custkey", i, "duck")[1],
        )
        for i in range(_BLOOM_K)
    )
    probe_rows = "\n      UNION ALL\n      ".join(
        "SELECT c_custkey, {w} AS word_idx, {m} AS mask FROM customer".format(
            w=_bloom_probe_sql("c_custkey", i, "duck")[0],
            m=_bloom_probe_sql("c_custkey", i, "duck")[1],
        )
        for i in range(_BLOOM_K)
    )
    return f"""
    WITH hi AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_totalprice > {_HIVAL_THRESHOLD}
    ),
    build AS ({build_rows}),
    bloom AS (
      SELECT word_idx, bit_or(mask) AS word_val FROM build GROUP BY word_idx
    ),
    probes AS ({probe_rows}),
    cand AS (
      SELECT p.c_custkey,
             (COUNT(*) FILTER (WHERE (b.word_val & p.mask) <> 0)) = {_BLOOM_K}
               AS bloom_candidate
      FROM probes p LEFT JOIN bloom b ON b.word_idx = p.word_idx
      GROUP BY p.c_custkey
    ),
    truth AS (
      SELECT c.c_custkey, (h.o_custkey IS NOT NULL) AS is_member
      FROM customer c LEFT JOIN hi h ON h.o_custkey = c.c_custkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(*) FILTER (WHERE t.is_member) AS BIGINT) AS n_members,
           CAST(COUNT(*) FILTER (WHERE c.bloom_candidate) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) FILTER (WHERE c.bloom_candidate AND NOT t.is_member) AS BIGINT)
             AS n_false_positives,
           CAST(COUNT(*) FILTER (WHERE t.is_member AND NOT c.bloom_candidate) AS BIGINT)
             AS n_false_negatives
    FROM truth t JOIN cand c ON c.c_custkey = t.c_custkey
    """


@query(
    "q_bloom_semijoin",
    oracle=_duck_bloom_oracle(),
    tags=("sketch", "bloom", "semi-join-reduction", "join"),
)
def q_bloom_semijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join reduction via a hand-built 4096-bit Bloom filter
    (_BLOOM_BITS) of high-value order custkeys, probed by the customer
    table. Emits the membership/candidate/false-positive accounting
    (all exact BIGINTs; n_false_negatives is provably 0). See the
    section comment above _bloom_probe_sql for the hashing scheme and
    the 128-row (32-bit words) broadcast plan shape."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    hi = (
        o.filter(F.col("o_totalprice") > _HIVAL_THRESHOLD)
        .select("o_custkey")
        .distinct()
    )

    def probes(df: DataFrame, key: str) -> DataFrame:
        rows = []
        for i in range(_BLOOM_K):
            w, m = _bloom_probe_sql(key, i, "spark")
            rows.append(
                df.select(
                    F.col(key),
                    F.expr(w).alias("word_idx"),
                    F.expr(m).alias("mask"),
                )
            )
        out = rows[0]
        for r in rows[1:]:
            out = out.unionAll(r)
        return out

    bloom = (
        probes(hi, "o_custkey")
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word_val"))
    )
    cand = (
        probes(c, "c_custkey")
        .join(F.broadcast(bloom), "word_idx", "left")
        .groupBy("c_custkey")
        .agg(
            (
                F.count_if(F.col("word_val").bitwiseAND(F.col("mask")) != 0)
                == _BLOOM_K
            ).alias("bloom_candidate")
        )
    )
    truth = c.select("c_custkey").join(
        hi.withColumnRenamed("o_custkey", "c_custkey").withColumn(
            "is_member", F.lit(True)
        ),
        "c_custkey",
        "left",
    ).fillna(False, ["is_member"])
    j = truth.join(cand, "c_custkey")
    return j.agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.count_if(F.col("is_member")).alias("n_members"),
        F.count_if(F.col("bloom_candidate")).alias("n_candidates"),
        F.count_if(F.col("bloom_candidate") & ~F.col("is_member")).alias(
            "n_false_positives"
        ),
        F.count_if(F.col("is_member") & ~F.col("bloom_candidate")).alias(
            "n_false_negatives"
        ),
    )


@query(
    "q_approx_top_k",
    oracle="""
    SELECT user_id, cnt, rank FROM (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id) AS rank
      FROM events GROUP BY user_id
    ) WHERE rank <= 10
    """,
    tags=("sketch", "approx-top-k", "spark4"),
)
def q_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-native approx_top_k (Spark 4.x) driven in its EXACT
    regime: the sketch tracks up to `maxItemsTracked` items and is
    provably exact while distinct(user_id) stays below that capacity
    (dozens here vs 10000 — headroom against any plausible testdata regeneration), so its flattened output can be fully
    hash-checked against the exact GROUP BY oracle — the same
    sketch-twin trick as q_approx_distinct. Capacity is set ABOVE the
    domain so top-k SELECTION happens in our deterministic re-rank
    (count desc, user_id), not inside the sketch, whose internal
    tie order at the k-boundary is unspecified.

    Scale: approx_top_k is a mergeable partial-aggregate (one scan,
    O(capacity) state per partition, O(capacity) shuffle) — at 100 TB
    with a genuinely huge domain the result becomes approximate with
    the usual heavy-hitter guarantees and the hand-built CMS
    (q_cms_heavy_hitters) carries the error-bounded contract."""
    e = load_table(spark, sf_dir, "events")
    flat = (
        e.agg(F.expr("approx_top_k(user_id, 10000)").alias("tk"))
        .select(F.explode("tk").alias("s"))
        .select(F.col("s.item").alias("user_id"), F.col("s.count").alias("cnt"))
    )
    w = Window.orderBy(F.desc("cnt"), "user_id")
    return (
        flat.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 10)
    )


@query(
    "q_bitmap_overlap",
    oracle="""
    WITH ut AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    words AS (
      SELECT event_type, user_id // 62 AS w,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INT))
                  AS BIGINT) AS bits
      FROM ut GROUP BY event_type, user_id // 62
    ),
    sizes AS (
      SELECT event_type, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users
      FROM words GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(SUM(bit_count(a.bits & b.bits)) AS BIGINT) AS n_both
      FROM words a JOIN words b
        ON a.w = b.w AND a.event_type < b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT type_a, type_b, sa.n_users AS n_a, sb.n_users AS n_b, n_both,
           CAST((1000000 * n_both)
                // (sa.n_users + sb.n_users - n_both) AS BIGINT)
             AS jaccard_ppm,
           CAST((1000000 * n_both)
                // LEAST(sa.n_users, sb.n_users) AS BIGINT)
             AS containment_ppm
    FROM inter
    JOIN sizes sa ON sa.event_type = type_a
    JOIN sizes sb ON sb.event_type = type_b
    """,
    tags=("sketch", "bitmap", "audience", "overlap"),
)
def q_bitmap_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via BIT-PACKED user sets — the bitmap-index
    trick (Druid / Pinot / ClickHouse): each event type's user set
    becomes one int64 word per 62-user block (bit_or of shifted
    bits), set sizes are popcount sums, and pairwise intersections
    are popcount(a AND b) over a WORD-keyed join. Returns exactly the
    q_audience_overlap table (same columns, same exact values —
    asserted equal in tests/test_sketches.py) while shuffling
    |users|/62 words per type instead of |users| rows: the pair
    intersection costs a ~60x smaller join than the row-level
    self-join, which is why engines keep audience segments as bitmaps.
    Bit 62/63 are never set (user_id % 62), so shifts stay clear of
    the int64 sign bit in both engines.

    Scale: one distinct projection, one word aggregate (map-side
    combinable, 62:1 compression), one word-keyed equi-join. With
    billions of users you'd roaring-compress runs; the word layout
    here IS the uncompressed roaring container."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("event_type", "user_id").distinct()
    words = ut.groupBy(
        "event_type", F.expr("user_id div 62").alias("w")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT),"
            " CAST(user_id % 62 AS INT)))"
        ).alias("bits")
    )
    sizes = words.groupBy("event_type").agg(
        F.expr("CAST(SUM(bit_count(bits)) AS BIGINT)").alias("n_users")
    )
    a = words.select(
        F.col("event_type").alias("type_a"), "w", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("event_type").alias("type_b"), "w", F.col("bits").alias("bb")
    )
    inter = (
        a.join(b, ["w"])
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.expr("CAST(SUM(bit_count(ba & bb)) AS BIGINT)").alias("n_both")
        )
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b")
    )
    return (
        inter.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "n_both",
            F.expr(
                "CAST((1000000 * n_both) div (n_a + n_b - n_both) AS BIGINT)"
            ).alias("jaccard_ppm"),
            F.expr(
                "CAST((1000000 * n_both) div LEAST(n_a, n_b) AS BIGINT)"
            ).alias("containment_ppm"),
        )
    )


_KMV_K = 64
_KMV_RANGE = 16 ** 12  # 12 md5 hex digits -> [0, 2^48)


@query(
    "q_kmv_sketch",
    oracle=f"""
    WITH uh AS (
      SELECT DISTINCT event_type,
             {_hex_val_sql("md5(CAST(user_id AS VARCHAR))", 12)} AS h
      FROM events
    ),
    ranked AS (
      SELECT event_type, h,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rk,
             COUNT(*) OVER (PARTITION BY event_type) AS n_exact
      FROM uh
    ),
    bottoms AS MATERIALIZED (
      SELECT event_type, h, rk, CAST(n_exact AS BIGINT) AS n_exact
      FROM ranked WHERE rk <= {_KMV_K}
    ),
    singles AS (
      SELECT event_type, MAX(n_exact) AS n_exact,
             CASE WHEN MAX(rk) < {_KMV_K} THEN MAX(rk)
                  ELSE ({_KMV_K} - 1) * {_KMV_RANGE}
                       // MAX(CASE WHEN rk = {_KMV_K} THEN h END) END AS est
      FROM bottoms GROUP BY event_type
    ),
    pair_h AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, a.h
      FROM bottoms a JOIN (SELECT DISTINCT event_type FROM bottoms) b
        ON a.event_type < b.event_type
      UNION
      SELECT a.event_type AS type_a, b.event_type AS type_b, b.h
      FROM (SELECT DISTINCT event_type FROM bottoms) a
      JOIN bottoms b ON a.event_type < b.event_type
    ),
    pranked AS (
      SELECT type_a, type_b, h,
             ROW_NUMBER() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk
      FROM pair_h
    ),
    unions AS (
      SELECT type_a, type_b,
             CASE WHEN MAX(rk) < {_KMV_K} THEN MAX(rk)
                  ELSE ({_KMV_K} - 1) * {_KMV_RANGE}
                       // MAX(CASE WHEN rk = {_KMV_K} THEN h END) END
               AS est_union
      FROM pranked WHERE rk <= {_KMV_K} GROUP BY type_a, type_b
    )
    SELECT u.type_a, u.type_b,
           CAST(sa.est AS BIGINT) AS est_a,
           CAST(sb.est AS BIGINT) AS est_b,
           CAST(u.est_union AS BIGINT) AS est_union,
           CAST(sa.est + sb.est - u.est_union AS BIGINT) AS est_inter,
           sa.n_exact AS n_a_exact, sb.n_exact AS n_b_exact,
           CAST((1000000 * ABS(sa.est - sa.n_exact)) // sa.n_exact AS BIGINT)
             AS abs_err_a_ppm
    FROM unions u
    JOIN singles sa ON sa.event_type = u.type_a
    JOIN singles sb ON sb.event_type = u.type_b
    """,
    tags=("sketch", "kmv", "distinct", "mergeable"),
)
def q_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the
    theta-sketch ancestor), K = 64: each event type keeps the 64
    smallest 48-bit md5 hashes of its users; the distinct estimate is
    (K-1) * 2^48 div h_K (exact count when the sketch isn't full), and
    because bottom-k sets MERGE by union-then-trim, the pairwise
    union estimate needs no re-scan — intersections follow by
    inclusion-exclusion. Unlike HLL (engine-internal, not
    cross-engine comparable), every value here is deterministic
    integer arithmetic on portable md5 digits, so estimates,
    merges, and the per-type absolute-error column are all
    hash-checked against the oracle. q_audience_overlap holds the
    exact pairwise truth this sketch approximates.

    Scale: one distinct projection, one per-type bottom-K window
    (per-partition top-K heaps via WindowGroupLimit); everything
    after operates on K x |types| rows — the sketch table IS the
    shuffle. This is the mergeability contract a 1000-node rollup
    needs: partial sketches union per node, trim to K, estimate once."""
    ev = load_table(spark, sf_dir, "events")
    uh = ev.select(
        "event_type",
        F.expr(_hex_val_sql("md5(CAST(user_id AS STRING))", 12)).alias("h"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    wc = Window.partitionBy("event_type")
    ranked = uh.select(
        "event_type",
        "h",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_exact"),
    )
    bottoms = ranked.filter(F.col("rk") <= _KMV_K).localCheckpoint(eager=True)
    est_case = (
        f"CASE WHEN MAX(rk) < {_KMV_K} THEN MAX(rk)"
        f" ELSE ({_KMV_K} - 1) * {_KMV_RANGE}"
        f" div MAX(CASE WHEN rk = {_KMV_K} THEN h END) END"
    )
    singles = bottoms.groupBy("event_type").agg(
        F.max("n_exact").cast("long").alias("n_exact"),
        F.expr(est_case).alias("est"),
    )
    types = bottoms.select("event_type").distinct()
    pair_h = (
        bottoms.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.col("a.h").alias("h"),
        )
        .unionByName(
            types.alias("a")
            .join(
                bottoms.alias("b"),
                F.col("a.event_type") < F.col("b.event_type"),
            )
            .select(
                F.col("a.event_type").alias("type_a"),
                F.col("b.event_type").alias("type_b"),
                F.col("b.h").alias("h"),
            )
        )
        .distinct()
    )
    wp = Window.partitionBy("type_a", "type_b").orderBy("h")
    unions = (
        pair_h.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= _KMV_K)
        .groupBy("type_a", "type_b")
        .agg(F.expr(est_case.replace("MAX(rk)", "MAX(rk)")).alias("est_union"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"),
        F.col("est").alias("est_a"),
        F.col("n_exact").alias("n_a_exact"),
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"),
        F.col("est").alias("est_b"),
        F.col("n_exact").alias("n_b_exact"),
    )
    return (
        unions.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            F.col("est_a").cast("long").alias("est_a"),
            F.col("est_b").cast("long").alias("est_b"),
            F.col("est_union").cast("long").alias("est_union"),
            (F.col("est_a") + F.col("est_b") - F.col("est_union"))
            .cast("long")
            .alias("est_inter"),
            "n_a_exact",
            "n_b_exact",
            F.expr(
                "CAST((1000000 * ABS(est_a - n_a_exact)) div n_a_exact"
                " AS BIGINT)"
            ).alias("abs_err_a_ppm"),
        )
    )


# ---------------------------------------------------------------------
# q_spacesaving_merge (round 6)
# ---------------------------------------------------------------------

_SS_SHARDS = 8  # logical shards (deterministic: doc_id % 8, NOT file
# partitions — physical partitioning must never change results)
_SS_K = 30  # summary size per shard
_SS_TOP = 20  # merged heavy hitters emitted


@query(
    "q_spacesaving_merge",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % {_SS_SHARDS} AS shard,
             unnest(list_filter(string_split(text, ' '), x -> x <> ''))
               AS tok
      FROM documents
    ),
    sc AS (
      SELECT shard, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    ranked AS (
      SELECT shard, tok, c,
             ROW_NUMBER() OVER (PARTITION BY shard
                                ORDER BY c DESC, tok) AS rn
      FROM sc
    ),
    summ AS (SELECT shard, tok, c FROM ranked WHERE rn <= {_SS_K}),
    caps AS (
      SELECT shard,
             CAST(COALESCE(MAX(CASE WHEN rn > {_SS_K} THEN c END), 0)
                  AS BIGINT) AS rest_cap
      FROM ranked GROUP BY shard
    ),
    cand AS (SELECT DISTINCT tok FROM summ),
    est AS (
      SELECT cand.tok,
             CAST(SUM(COALESCE(summ.c, 0)) AS BIGINT) AS lower_bound,
             CAST(SUM(COALESCE(summ.c, caps.rest_cap)) AS BIGINT)
               AS upper_bound
      FROM cand
      CROSS JOIN caps
      LEFT JOIN summ ON summ.shard = caps.shard AND summ.tok = cand.tok
      GROUP BY cand.tok
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM toks GROUP BY tok
    )
    SELECT est.tok, est.lower_bound, est.upper_bound, exact.exact_count,
           est.lower_bound <= exact.exact_count
             AND exact.exact_count <= est.upper_bound AS within_bounds
    FROM est JOIN exact ON exact.tok = est.tok
    QUALIFY ROW_NUMBER() OVER (ORDER BY est.lower_bound DESC, est.tok)
            <= {_SS_TOP}
    """,
    tags=("sketches", "spacesaving", "mergeable", "heavy-hitters"),
)
def q_spacesaving_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable SpaceSaving-style heavy-hitter summaries (Metwally et
    al. 2005 / Agarwal et al. "Mergeable Summaries" 2012): each of 8
    DETERMINISTIC logical shards keeps only its top-30 token counts
    plus the largest truncated count (its error cap); merging sums
    present counts for the lower bound and substitutes each absent
    shard's cap for the upper bound. Emits the top 20 merged tokens
    with (lower, upper, exact) and the guarantee check
    lower ≤ exact ≤ upper — the bounded-memory distributed top-k that
    replaces a full global count when the vocabulary is huge.

    Determinism: shards key on doc_id % 8, never on physical
    partitions, so results are layout-invariant; summaries and caps
    are exact integers with (count desc, token) tie-breaks.

    Scale: the map-equivalent stage is one (shard, token) aggregate
    with map-side combine; only 8 × 30-row summaries plus 8 caps cross
    the final exchange — the whole point of a mergeable summary. The
    exact join here is the audit (it scans the corpus once more);
    production keeps only the summary side."""
    toks = load_table(spark, sf_dir, "documents").select(
        (F.col("doc_id") % _SS_SHARDS).alias("shard"),
        F.explode(tokens()).alias("tok"),
    )
    sc = toks.groupBy("shard", "tok").agg(F.count(F.lit(1)).alias("c"))
    w_sh = Window.partitionBy("shard").orderBy(F.desc("c"), F.asc("tok"))
    ranked = sc.withColumn("rn", F.row_number().over(w_sh))
    summ = ranked.filter(F.col("rn") <= _SS_K).select("shard", "tok", "c")
    caps = ranked.groupBy("shard").agg(
        F.coalesce(
            F.max(F.when(F.col("rn") > _SS_K, F.col("c"))), F.lit(0)
        ).alias("rest_cap")
    )
    cand = summ.select("tok").distinct()
    grid = cand.crossJoin(F.broadcast(caps))
    est = (
        grid.join(summ, ["shard", "tok"], "left")
        .groupBy("tok")
        .agg(
            F.sum(F.coalesce(F.col("c"), F.lit(0))).alias("lower_bound"),
            F.sum(F.coalesce(F.col("c"), F.col("rest_cap"))).alias("upper_bound"),
        )
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("exact_count"))
    out = est.join(exact, "tok").select(
        "tok",
        "lower_bound",
        "upper_bound",
        "exact_count",
        (
            (F.col("lower_bound") <= F.col("exact_count"))
            & (F.col("exact_count") <= F.col("upper_bound"))
        ).alias("within_bounds"),
    )
    w_top = Window.orderBy(F.desc("lower_bound"), F.asc("tok"))
    return (
        out.withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") <= _SS_TOP)
        .drop("rn")
    )


# ---------------------------------------------------------------------
# q_bloom_fpp_curve (round 7)
# ---------------------------------------------------------------------

_FPP_SIZES = (1024, 4096, 16384)  # bits m; k = _BLOOM_K probes throughout


def _fpp_probe(key: str, i: int, dialect: str) -> str:
    """Bit position of probe i for `key` with the bit count as the SQL
    column `m` — the q_bloom_semijoin double-hash scheme with variable
    filter size."""
    h = f"md5(CAST({key} AS {'STRING' if dialect == 'spark' else 'VARCHAR'}))"
    h1 = _hex_val_sql(f"{h}", 4)
    h2 = "CAST(0 AS BIGINT)"
    for d in range(4, 8):
        h2 = f"(({h2}) * 16 + instr('{_HEX}', substr({h}, {d + 1}, 1)) - 1)"
    return f"(({h1}) + {i} * ({h2})) % m"


def _fpp_rows(key: str, dialect: str, src: str, extra_col: str = "") -> str:
    div = "div" if dialect == "spark" else "//"
    shift = (
        "shiftleft(CAST(1 AS BIGINT), CAST(({pos}) % 32 AS INT))"
        if dialect == "spark"
        else "(CAST(1 AS BIGINT) << CAST(({pos}) % 32 AS INT))"
    )
    parts = []
    for i in range(_BLOOM_K):
        pos = _fpp_probe(key, i, dialect)
        parts.append(
            f"SELECT {extra_col} m, CAST(({pos}) {div} 32 AS INT) AS word_idx,"
            f" {shift.format(pos=pos)} AS mask FROM {src}"
        )
    return "\n      UNION ALL\n      ".join(parts)


def _fpp_oracle() -> str:
    sizes = ", ".join(f"({m})" for m in _FPP_SIZES)
    build = _fpp_rows("o_custkey", "duck", "hi, sizes")
    probe = _fpp_rows("c_custkey", "duck", "customer, sizes", "c_custkey,")
    return f"""
    WITH sizes AS (SELECT CAST(m AS BIGINT) AS m FROM (VALUES {sizes}) t(m)),
    hi AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_totalprice > {_HIVAL_THRESHOLD}
    ),
    build AS ({build}),
    bloom AS (
      SELECT m, word_idx, bit_or(mask) AS word_val
      FROM build GROUP BY m, word_idx
    ),
    probes AS ({probe}),
    cand AS (
      SELECT p.m, p.c_custkey,
             (COUNT(*) FILTER (WHERE (b.word_val & p.mask) <> 0))
               = {_BLOOM_K} AS hit
      FROM probes p
      LEFT JOIN bloom b ON b.m = p.m AND b.word_idx = p.word_idx
      GROUP BY p.m, p.c_custkey
    ),
    truth AS (
      SELECT c.c_custkey, (h.o_custkey IS NOT NULL) AS is_member
      FROM customer c LEFT JOIN hi h ON h.o_custkey = c.c_custkey
    ),
    agg AS (
      SELECT c.m,
             CAST(COUNT(*) AS BIGINT) AS n_probed,
             CAST(COUNT(*) FILTER (WHERE t.is_member) AS BIGINT) AS n_members,
             CAST(COUNT(*) FILTER (WHERE c.hit) AS BIGINT) AS n_candidates,
             CAST(COUNT(*) FILTER (WHERE c.hit AND NOT t.is_member) AS BIGINT)
               AS n_false_positives,
             CAST(COUNT(*) FILTER (WHERE t.is_member AND NOT c.hit) AS BIGINT)
               AS n_false_negatives
      FROM cand c JOIN truth t ON t.c_custkey = c.c_custkey
      GROUP BY c.m
    )
    SELECT m AS bits, n_probed, n_members, n_candidates, n_false_positives,
           n_false_negatives,
           CAST(CASE WHEN n_probed - n_members > 0
                THEN (1000000 * n_false_positives) // (n_probed - n_members)
                ELSE 0 END AS BIGINT) AS fpp_ppm
    FROM agg
    """


@query(
    "q_bloom_fpp_curve",
    oracle=_fpp_oracle(),
    tags=("sketch", "bloom", "parameter-curve", "dial"),
)
def q_bloom_fpp_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing dial: the SAME build/probe workload as
    q_bloom_semijoin run at m = 1024 / 4096 / 16384 bits (k = 3), with
    the measured false-positive rate per size — the load-factor curve
    an engineer reads before sizing a semi-join reduction filter
    (q_lsh_parameter_curve's pattern applied to the membership
    sketch). False negatives are provably zero at every size and
    asserted as a column.

    Exactness: positions are md5-double-hash integer arithmetic (the
    q_bloom_semijoin scheme with the bit count as a grid column);
    words, masks, and counts exact; fpp_ppm one truncating division.

    Scale: the grid multiplies build and probe rows by |sizes| × k —
    map-side explode, one (m, word) aggregate whose output is at most
    Σ m/32 words (a few KB, broadcast), one probe aggregate keyed by
    (m, custkey). Measuring all sizes costs ONE pass over each side."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    sizes = spark.createDataFrame([(m,) for m in _FPP_SIZES], "m long")
    hi = (
        o.filter(F.col("o_totalprice") > _HIVAL_THRESHOLD)
        .select("o_custkey")
        .distinct()
        .crossJoin(F.broadcast(sizes))
    )
    probes_src = c.select("c_custkey").crossJoin(F.broadcast(sizes))

    def _rows(df, key, keep):
        parts = []
        for i in range(_BLOOM_K):
            pos = _fpp_probe(key, i, "spark")
            parts.append(
                df.select(
                    *keep,
                    "m",
                    F.expr(f"CAST(({pos}) div 32 AS INT)").alias("word_idx"),
                    F.expr(
                        f"shiftleft(CAST(1 AS BIGINT),"
                        f" CAST(({pos}) % 32 AS INT))"
                    ).alias("mask"),
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionAll(p)
        return out

    bloom = (
        _rows(hi, "o_custkey", [])
        .groupBy("m", "word_idx")
        .agg(F.bit_or("mask").alias("word_val"))
    )
    cand = (
        _rows(probes_src, "c_custkey", ["c_custkey"])
        .join(F.broadcast(bloom), ["m", "word_idx"], "left")
        .groupBy("m", "c_custkey")
        .agg(
            (
                F.count(
                    F.when(
                        F.col("word_val").isNotNull()
                        & (F.col("word_val").bitwiseAND(F.col("mask")) != 0),
                        F.lit(1),
                    )
                )
                == _BLOOM_K
            ).alias("hit")
        )
    )
    truth = c.select("c_custkey").join(
        hi.select(F.col("o_custkey").alias("c_custkey")).distinct(),
        "c_custkey",
        "left_semi",
    ).withColumn("is_member", F.lit(True))
    agg = (
        cand.join(F.broadcast(truth), "c_custkey", "left")
        .withColumn("is_member", F.coalesce("is_member", F.lit(False)))
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.col("is_member").cast("int")).alias("n_members"),
            F.sum(F.col("hit").cast("int")).alias("n_candidates"),
            F.sum(
                (F.col("hit") & ~F.col("is_member")).cast("int")
            ).alias("n_false_positives"),
            F.sum(
                (F.col("is_member") & ~F.col("hit")).cast("int")
            ).alias("n_false_negatives"),
        )
    )
    return agg.select(
        F.col("m").alias("bits"),
        "n_probed",
        F.col("n_members").cast("long").alias("n_members"),
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_false_positives").cast("long").alias("n_false_positives"),
        F.col("n_false_negatives").cast("long").alias("n_false_negatives"),
        F.expr(
            "CAST(CASE WHEN n_probed - n_members > 0"
            " THEN (1000000 * n_false_positives) div (n_probed - n_members)"
            " ELSE 0 END AS BIGINT)"
        ).alias("fpp_ppm"),
    )


# ---------------------------------------------------------------------
# q_cms_error_curve (round 8)
# ---------------------------------------------------------------------

_CMS_CURVE_WIDTHS = (64, 256, 1024)
_CMS_CURVE_TOP = 10

# one md5 per (tok, seed); the bucket is hexval % width, so all three
# sketch widths share the same hash column
_CURVE_HEXVAL = _hex_val_sql("md5(concat(tok, '#', CAST(seed AS STRING)))")
_CURVE_HEXVAL_DUCK = _hex_val_sql("md5(tok || '#' || CAST(seed AS VARCHAR))")

_CMS_CURVE_ORACLE = f"""
    WITH tok AS (
      SELECT t.tok FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    ),
    seeds AS (SELECT unnest([{", ".join(str(i) for i in range(DEPTH))}]) AS seed),
    widths AS (SELECT unnest([{", ".join(str(w) for w in _CMS_CURVE_WIDTHS)}]) AS width),
    sketch AS (
      SELECT width, seed, ({_CURVE_HEXVAL_DUCK}) % width AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok CROSS JOIN seeds CROSS JOIN widths
      GROUP BY 1, 2, 3
    ),
    exact AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY tok
      QUALIFY ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok)
                <= {_CMS_CURVE_TOP}
    ),
    probes AS (
      SELECT w.width, e.tok, e.exact_cnt, sd.seed,
             ({_hex_val_sql("md5(e.tok || '#' || CAST(sd.seed AS VARCHAR))")})
               % w.width AS bucket
      FROM exact e CROSS JOIN seeds sd CROSS JOIN widths w
    )
    SELECT CAST(p.width AS BIGINT) AS width, p.tok AS token, p.exact_cnt,
           CAST(MIN(s.cnt) AS BIGINT) AS cms_est,
           CAST(MIN(s.cnt) - p.exact_cnt AS BIGINT) AS overestimate
    FROM probes p
    JOIN sketch s ON s.width = p.width AND s.seed = p.seed
                 AND s.bucket = p.bucket
    GROUP BY p.width, p.tok, p.exact_cnt
"""


@query(
    "q_cms_error_curve",
    oracle=_CMS_CURVE_ORACLE,
    tags=("sketch", "count-min", "accuracy-curve", "llm-pipeline"),
)
def q_cms_error_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min accuracy as a function of sketch width — the
    space/error dial (est - exact <= 2N/w with probability 1 - 2^-d),
    measured: the SAME token stream sketched at widths {64, 256, 1024}
    (depth 4), probed at the top-10 exact heavy hitters. Completes the
    sketch parameter-curve trio — Bloom FPP vs bits/key
    (q_bloom_fpp_curve), HLL error vs rsd (q_hll_error_curve), CMS
    overestimate vs width (this) — the evidence for choosing sketch
    sizes before a 100 TB run instead of guessing.

    Exactness: one md5 per (token, seed) shared by all widths (the
    bucket is hexval % width), so every counter, estimate, and
    overestimate is deterministic integer arithmetic on both engines;
    overestimate >= 0 on every row is the CMS guarantee.

    Scale: the (width, seed, bucket) projection partial-aggregates
    map-side to at most depth * sum(widths) = 5,376 counter rows
    regardless of corpus size; the probe step broadcast-joins that
    constant-size table. Tripling the widths triples the counter
    table, not the scan."""
    toks = _tokens(spark, sf_dir)
    seeds = F.explode(F.array(*[F.lit(i) for i in range(DEPTH)])).alias("seed")
    widths = F.explode(
        F.array(*[F.lit(w) for w in _CMS_CURVE_WIDTHS])
    ).alias("width")
    sketch = (
        toks.select("tok", seeds)
        .select("tok", "seed", widths)
        .select(
            "width",
            "seed",
            F.expr(f"({_CURVE_HEXVAL}) % width").alias("bucket"),
        )
        .groupBy("width", "seed", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    exact = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("tok"))
        .limit(_CMS_CURVE_TOP)
    )
    probes = (
        exact.select("tok", "exact_cnt", seeds)
        .select("tok", "exact_cnt", "seed", widths)
        .select(
            "width",
            "tok",
            "exact_cnt",
            "seed",
            F.expr(f"({_CURVE_HEXVAL}) % width").alias("bucket"),
        )
    )
    return (
        probes.join(F.broadcast(sketch), ["width", "seed", "bucket"])
        .groupBy("width", "tok", "exact_cnt")
        .agg(F.min("cnt").alias("cms_est"))
        .select(
            F.col("width").cast("long").alias("width"),
            F.col("tok").alias("token"),
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).alias("overestimate"),
        )
    )
