"""Near-duplicate detection (SURVEY.md §2.10): n-gram Jaccard (exact,
oracle-checked), MinHash + LSH (scale path, rows-only), SimHash
(rows-only), embedding-cosine near-dup (oracle-checked via exact
decimal dot products).

Scale posture — the whole point of this family:
- exact Jaccard needs candidate pairs; we BLOCK on `lang` so the
  quadratic term is per-block. At 100 TB blocking comes from LSH
  bands (below), never from a global cross join.
- MinHash: K independent permutations approximated by K seeded
  hash functions over shingle hashes; LSH bands of rows -> same-band
  equality join = candidate generation with O(n) shuffle.
- SimHash: 64-bit sketch; near-dup candidates = equal 16-bit chunk
  (pigeonhole for hamming distance <= 3) -> equality join on chunks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions.textops import ngram_join, shingle_set, shingles, token_set, tokens
from ..registry import query
from ..sources.loader import fan_out, load_table
from ._pin import pin

_N_MINHASH = 16
_N_BANDS = 4  # 4 hashes per band


@query(
    "q_ngram_jaccard_pairs_exact_smallcorpus",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang, source, list_distinct(list_filter(string_split(text, ' '),
                                                     x -> x <> '')) AS ts
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
             / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) AS jaccard
    FROM tok a JOIN tok b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
            / (len(a.ts) + len(b.ts) - len(list_intersect(a.ts, b.ts))) >= 0.6
    """,
    tags=("neardup", "jaccard"),
)
def q_ngram_jaccard_pairs_exact_smallcorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-RECALL small-corpus cross-check — NOT the scale path
    (renamed from ``q_ngram_jaccard_pairs`` in round 4; reach for
    q_minhash_lsh or q_prefix_filter_pairs at scale). Exact token-set
    Jaccard over (lang, source)-blocked pairs (>= 0.6). Two-key
    blocking keeps the quadratic term per-block, but block size grows
    linearly with the corpus, so this shape is O(n²/b) — the same
    within-block all-pairs join the round-3 growth sweep convicted at
    26.7x wall per 10x data on the clusters variant. Use it to
    validate the LSH/prefix-filter paths' recall on corpora small
    enough to afford 100% pair recall.
    Jaccard = |A∩B| / (|A|+|B|-|A∩B|): one division of identical
    integers — bit-exact cross-engine."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", token_set().alias("ts")
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"),
                 F.col("source").alias("src_a"), F.col("ts").alias("ts_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"),
                 F.col("source").alias("src_b"), F.col("ts").alias("ts_b"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    jac = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("src_a") == F.col("src_b"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """MinHash signature per doc: h_i(doc) = min over shingle hashes of
    xxhash64(base_hash(shingle), seed=i). Pure HOF pipeline —
    signatures compute per-row in codegen, no shuffle. Returns
    (doc_id, sig array<long>).

    The K "permutations" are derived by re-hashing a single base
    xxhash64 of each token: one string-hash pass, then K passes of
    long-hashing (UTF8String hashing is the expensive part; hashing
    the 8-byte base value is ~3x cheaper per lane and the lanes stay
    pairwise-independent for MinHash purposes).
    """
    base = docs.select(
        "doc_id", F.transform(tokens(), lambda t: F.xxhash64(t)).alias("th")
    )
    sig = F.array(
        *[
            F.array_min(F.transform("th", lambda h, i=i: F.xxhash64(h, F.lit(i))))
            for i in range(_N_MINHASH)
        ]
    )
    return base.select("doc_id", sig.alias("sig"))


def _xx_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 MinHash+LSH verified near-dup pairs (doc_a, doc_b,
    jaccard) — the throughput pipeline behind q_minhash_lsh.

    Pipeline: per-doc 16-hash MinHash signature -> 4 LSH bands of 4
    hashes -> explode bands -> equi-join on (band_id, band_hash) ->
    distinct candidate pairs -> exact Jaccard verify on candidates
    only. The band join is the scale path: O(n·bands) shuffle rows,
    never O(n²)."""
    return xx_lsh_pairs(load_table(spark, sf_dir, "documents"))


def xx_lsh_pairs(d: DataFrame) -> DataFrame:
    """xxhash64 LSH pipeline body over any (doc_id, text) DataFrame —
    see _xx_lsh_pairs for the pipeline notes. Factored out so the skew
    stress test (tests/test_neardup_skew.py) can plant a hot band
    bucket. Round 8: the input fans out across cores first
    (loader.fan_out) — the per-token xxhash folds are the dominant
    per-row cost and the local single-row-group scan would otherwise
    run them on one task."""
    d = fan_out(d)
    sigs = minhash_signatures(d)
    per_band = _N_MINHASH // _N_BANDS
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.xxhash64(
                            *[F.col("sig")[b * per_band + j] for j in range(per_band)]
                        ).alias("band_hash"),
                    )
                    for b in range(_N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_id", "band.band_hash")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )
    # exact verify on the (small) candidate set; token sets are
    # int64-hashed (intersection counts identical modulo 2^-64
    # collisions — see q_dedup_clusters note)
    hashed_ts = F.array_distinct(F.transform(tokens(), lambda x: F.xxhash64(x)))
    tok = d.select("doc_id", hashed_ts.alias("ts"))
    inter = F.size(F.array_intersect("ts_a", "ts_b"))
    union = F.size("ts_a") + F.size("ts_b") - inter
    return (
        cand.join(tok.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ts_a")), "doc_a")
        .join(tok.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("ts_b")), "doc_b")
        .select("doc_a", "doc_b", (inter.cast("double") / union).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.5)
    )


# SimHash token-hash: 64 bits drawn from the md5 hex digest (bit b =
# bit b%4 of hex digit b//4). md5 exists in BOTH engines, which makes
# the whole sketch oracle-checkable; production would swap in xxhash64
# (one line) and lose only the cross-engine check, not the semantics.
_SIMHASH_SUMS = ",\n           ".join(
    f"SUM(CASE WHEN ((instr('0123456789abcdef', substr(h, {b // 4 + 1}, 1)) - 1 >> {b % 4})"
    f" & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(64)
)
_SIMHASH_CHUNKS = ",\n           ".join(
    "CAST("
    + " + ".join(f"(CASE WHEN b{16 * c + j} > 0 THEN 1 ELSE 0 END) * {1 << j}" for j in range(16))
    + f" AS BIGINT) AS chunk{c}"
    for c in range(4)
)


@query(
    "q_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
      FROM documents
    ), hashed AS (
      SELECT doc_id, md5(t) AS h FROM tok
    ), sums AS (
      SELECT doc_id,
           {_SIMHASH_SUMS}
      FROM hashed GROUP BY doc_id
    ), chunks AS (
      SELECT doc_id,
           {_SIMHASH_CHUNKS},
           CASE WHEN b63 > 0 THEN 1 ELSE 0 END AS sign_bit
      FROM sums
    )
    SELECT doc_id,
           CAST(chunk0 + chunk1 * 65536 + chunk2 * 4294967296
                + (chunk3 - sign_bit * 65536) * 281474976710656 AS BIGINT) AS simhash,
           chunk0, chunk1, chunk2, chunk3
    FROM chunks
    """,
    tags=("neardup", "simhash"),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash sketch per document. Bit b of the sketch = sign
    of sum over tokens of (+1/-1 per token-hash bit b). Computed as 64
    conditional aggregates over exploded tokens — one shuffle on
    doc_id, all codegen. Output includes the 4 16-bit chunks used for
    hamming<=3 candidate banding. Token hash bits come from md5 so the
    sketch is value-checked cross-engine (see _SIMHASH_SUMS note)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens()).alias("t")
    ).withColumn("h", F.md5("t"))
    # hex digit values once per token, bits sliced from them
    digits = [
        F.expr(f"instr('0123456789abcdef', substring(h, {i + 1}, 1)) - 1") for i in range(16)
    ]
    bit_sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(digits[b // 4], b % 4).bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(64)
        ]
    )
    bit = lambda i: F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(  # noqa: E731
        F.lit(0).cast("long")
    )
    chunks = [
        sum((F.shiftleft(bit(16 * c + j), j) for j in range(1, 16)), bit(16 * c).cast("long"))
        .cast("long")
        .alias(f"chunk{c}")
        for c in range(4)
    ]
    out = bit_sums.select("doc_id", *chunks, bit(63).alias("sign_bit"))
    simhash = (
        F.col("chunk0")
        + F.col("chunk1") * F.lit(65536).cast("long")
        + F.col("chunk2") * F.lit(4294967296).cast("long")
        + (F.col("chunk3") - F.col("sign_bit") * 65536) * F.lit(281474976710656).cast("long")
    )
    return out.select(
        "doc_id", simhash.cast("long").alias("simhash"), "chunk0", "chunk1", "chunk2", "chunk3"
    )


@query(
    "q_embedding_neardup_exact_smallcorpus",
    oracle="""
    WITH v AS (
      SELECT vec_id, label, embedding,
             list_reduce(list_transform(embedding,
                 x -> CAST(ROUND(CAST(x AS DOUBLE) * 100000000, 0) AS BIGINT)
                      * CAST(ROUND(CAST(x AS DOUBLE) * 100000000, 0) AS BIGINT)),
                 (s, x) -> s + x) AS norm2
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             CAST(list_reduce(list_transform(range(1, 65),
                     i -> CAST(ROUND(CAST(a.embedding[i] AS DOUBLE) * 100000000, 0) AS BIGINT)
                          * CAST(ROUND(CAST(b.embedding[i] AS DOUBLE) * 100000000, 0) AS BIGINT)),
                     (s, x) -> s + x) AS DOUBLE)
               / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))) AS cos_raw
      FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(cos_raw, 6) AS cosine
    FROM pairs WHERE cos_raw >= 0.3
    """,
    tags=("neardup", "embedding"),
)
def q_embedding_neardup_exact_smallcorpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-RECALL small-corpus cross-check — NOT the scale path
    (renamed from ``q_embedding_neardup`` in round 4; reach for
    q_semdedup / the SRP-LSH and IVF ANN paths at scale — the
    within-label all-pairs join here is O(n²/labels) and label blocks
    grow linearly with the corpus). Embedding near-duplicates: cosine
    >= 0.3 within label blocks (threshold fitted to this synthetic
    corpus: within-label max is 0.47).

    Exactness across engines: float elements are quantized to the
    scaled-int grid (similarity.qint, ROUND(x*1e8) as int64) and the
    dot product / norms accumulate as exact int64 sums —
    order-independent, no float->DECIMAL cast anywhere (that cast
    pattern rounded differently across engines at sf0.1 and was
    purged repo-wide in round 3). The one double division and sqrt
    are IEEE-identical. DuckDB's own list_cosine_similarity
    accumulates in float32 (measured ~1e-7 error) — deliberately NOT
    used.
    """
    e = load_table(spark, sf_dir, "embeddings")

    from .similarity import cosine_expr, dot_int  # noqa: F401

    from .similarity import qint

    # quantize ONCE per vector; pair-wise work is then pure int64
    # multiply-add (HOF per-pair rounding measured 2x slower)
    qe = F.transform(F.col("embedding"), qint)
    v = e.select(
        "vec_id", "label", qe.alias("qe"),
        dot_int(F.col("embedding"), F.col("embedding")).alias("norm2"),
    )
    a = v.select(
        F.col("vec_id").alias("vec_a"), F.col("label").alias("label_a"),
        F.col("qe").alias("qe_a"), F.col("norm2").alias("norm2_a"),
    )
    b = v.select(
        F.col("vec_id").alias("vec_b"), F.col("label").alias("label_b"),
        F.col("qe").alias("qe_b"), F.col("norm2").alias("norm2_b"),
    )
    dot = F.aggregate(
        F.zip_with("qe_a", "qe_b", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    cos = cosine_expr(dot, F.col("norm2_a"), F.col("norm2_b"))
    return (
        a.join(b, (F.col("label_a") == F.col("label_b")) & (F.col("vec_a") < F.col("vec_b")))
        .select("vec_a", "vec_b", cos.alias("cos_raw"))
        .filter(F.col("cos_raw") >= 0.3)
        .select("vec_a", "vec_b", F.round("cos_raw", 6).alias("cosine"))
    )


@query(
    "q_substring_containment",
    oracle="""
    SELECT a.doc_id AS contained_id, b.doc_id AS container_id, a.lang,
           CAST(len(a.text) AS BIGINT) AS contained_chars,
           CAST(len(b.text) AS BIGINT) AS container_chars
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND len(a.text) < len(b.text)
     AND contains(b.text, a.text)
    """,
    tags=("dedup", "containment", "llm-pipeline"),
)
def q_substring_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-containment dedup: documents whose ENTIRE text occurs
    inside a strictly longer same-language document — the "quoted in
    full / scraped twice with boilerplate" case exact dedup
    (dedup.py) can't see and token-set Jaccard underweights. The join
    is an equi-join on the lang block with the containment predicate
    evaluated post-join (SortMergeJoin, not a nested loop); per-block
    it is quadratic in documents — the same honesty as the exact
    Jaccard baseline above, with MinHash-LSH as the unbounded-block
    strategy. Strict length inequality leaves exact duplicates to
    q_dedup_md5."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    a = d.alias("a")
    b = d.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.length("a.text") < F.length("b.text"))
            & F.col("b.text").contains(F.col("a.text")),
        )
        .select(
            F.col("a.doc_id").alias("contained_id"),
            F.col("b.doc_id").alias("container_id"),
            F.col("a.lang").alias("lang"),
            F.length("a.text").cast("long").alias("contained_chars"),
            F.length("b.text").cast("long").alias("container_chars"),
        )
    )


# --- Prefix-filtering set-similarity join (AllPairs/PPJoin family) ---

_PF_T_NUM, _PF_T_DEN = 1, 2  # Jaccard threshold t = 1/2


@query(
    "q_prefix_filter_pairs",
    oracle="""
    WITH ts AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0)),
               i -> array_to_string(toks[i+1:i+4], ' '))) AS s
      FROM ts WHERE len(toks) >= 4
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.s, b.s)) AS BIGINT) AS n_inter,
           CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS BIGINT)
             AS n_union,
           CAST((10000 * len(list_intersect(a.s, b.s)))
                // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
                AS BIGINT) AS jaccard_x10000
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE 2 * len(list_intersect(a.s, b.s))
            >= (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
    """,
    tags=("neardup", "jaccard", "prefix-filter", "llm-pipeline"),
)
def q_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL document pairs with 4-gram-shingle Jaccard >= 0.5 via
    prefix filtering (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW'07) — the third candidate-generation strategy in this
    module, and the only EXACT one: (lang, source) blocking
    (q_ngram_jaccard_pairs_exact_smallcorpus) misses cross-block pairs and MinHash-LSH
    (q_minhash_lsh) is probabilistic; prefix filtering is complete by
    a pigeonhole argument, which the all-pairs oracle verifies.

    Candidate generation: order shingles globally by (document
    frequency, shingle) — rarest first — and take each doc's first
    L - ceil(t*L) + 1 shingles as its PREFIX. J(A,B) >= t implies
    |A∩B| >= ceil(t*|A|) (and, with the 2*min>=max length filter,
    >= ceil(t*|B|)), so a qualifying pair must share a shingle inside
    either side's prefix: probe prefix rows against FULL posting
    lists, never full x full. Shuffle cost is sum over prefix shingles
    of their document frequency — rare-first ordering minimizes it,
    and at 100 TB the df counts come from the same single token scan.
    Verification is exact integer math (array_intersect on the two
    shingle sets; 2*inter >= union) — no floats anywhere.

    Skew posture (tested with a planted clone cluster in
    tests/test_neardup_skew.py): a viral shingle with df~N lands in a
    single posting-list partition; rare-first prefixes keep it OUT of
    prefixes unless a doc has nothing rarer, and AQE's skew-join split
    divides whatever hot partition remains. The output for a clone
    cluster of size C is inherently C(C-1)/2 pairs — cost that no
    candidate strategy can avoid while staying exact."""
    return prefix_filter_pairs(load_table(spark, sf_dir, "documents"))


def prefix_filter_pairs(d: DataFrame) -> DataFrame:
    """Bayardo prefix-filter all-pairs body over any (doc_id, text)
    DataFrame — see q_prefix_filter_pairs for the algorithm notes.
    Round 8: scan fan-out + zip-form shingles (loader.fan_out /
    textops.ngram_join docstrings — identical values, parallel and
    per-row-cheaper construction)."""
    arr = shingles(fan_out(d), 4)
    sh = arr.select("doc_id", F.size("s").alias("len"), F.explode("s").alias("tok"))
    dfreq = sh.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))

    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("df", "tok")
    ranked = sh.join(dfreq, "tok").withColumn("pos", F.row_number().over(w))
    # prefix length L - ceil(t*L) + 1 in exact integers:
    # ceil(t*L) = (NUM*L + DEN - 1) div DEN
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("len")
        - F.expr(f"({_PF_T_NUM} * len + {_PF_T_DEN} - 1) div {_PF_T_DEN}")
        + 1
    ).select(F.col("doc_id").alias("pd"), F.col("len").alias("plen"), "tok")

    full = sh.select(F.col("doc_id").alias("fd"), F.col("len").alias("flen"), "tok")
    cand = (
        prefix.join(full, "tok")
        .filter(F.col("pd") != F.col("fd"))
        # length filter: J >= t needs t*max <= min (here 2*min >= max)
        .filter(
            _PF_T_DEN * F.least("plen", "flen")
            >= _PF_T_NUM * F.greatest("plen", "flen")
        )
        .select(
            F.least("pd", "fd").alias("doc_a"),
            F.greatest("pd", "fd").alias("doc_b"),
        )
        .distinct()
    )
    a = arr.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    b = arr.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .withColumns({"n_inter": inter.cast("bigint"), "n_union": union.cast("bigint")})
        .filter(2 * F.col("n_inter") >= F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.expr("CAST((10000 * n_inter) div n_union AS BIGINT)").alias(
                "jaccard_x10000"
            ),
        )
    )


# --- Oracle-checked MinHash-LSH twin (md5-portable hashing) ----------
#
# The scheme, written once for each engine: a document's 4-gram shingle
# set s -> two md5 digests per shingle -> 16 lanes (4-hex-digit windows
# of the digests) -> per-lane min = signature m0..m15 -> band keys
# md5(concat_ws('_', lanes of the band)) for each (n_bands,
# rows_per_band) config. Spark: _ml_signatures / ml_bands_maponly and
# _ml_bands. DuckDB: _ml_sig_sql.

_ML_SEEDS = 16
_ML_BANDS = 4  # 4 seeds per band
_ML_CONFIG = ((_ML_BANDS, _ML_SEEDS // _ML_BANDS),)  # (n_bands, rows_per_band)
_LSH_CONFIGS = ((2, 8), (4, 4), (8, 2))  # q_lsh_parameter_curve's grid


def _hex_window_sql(h: str, start: int) -> str:
    """Integer value of hex digits [start, start+4) (1-based) of `h` —
    digit-parse form valid in BOTH dialects (Spark additionally uses
    conv(), which DuckDB lacks; values are identical)."""
    expr = "CAST(0 AS BIGINT)"
    for i in range(4):
        expr = f"(({expr}) * 16 + instr('0123456789abcdef', substr({h}, {start + i}, 1)) - 1)"
    return expr


def _ml_lane(lane: int) -> tuple[str, int]:
    """(digest column, 1-based hex offset) for lane i of the 2-digest
    scheme: lanes 0-7 are 4-hex-digit windows of md5(shingle||'#0'),
    lanes 8-15 of md5(shingle||'#1')."""
    return (f"d{lane // 8}", 4 * (lane % 8) + 1)


def _ml_digest(shingle: Column, k: int) -> Column:
    """Digest k (0 or 1) of a shingle: md5(shingle || '#k')."""
    return F.md5(F.concat(shingle, F.lit(f"#{k}")))


def _ml_lane_sql(h: str, lane: int) -> str:
    """Spark SQL value of `lane` read off digest `h` (conv() parse;
    the oracle digit-parses the same window)."""
    return f"CAST(conv(substr({h}, {_ml_lane(lane)[1]}, 4), 16, 10) AS BIGINT)"


def _ml_signatures(arr: DataFrame) -> DataFrame:
    """(doc_id, m0..m15) from (doc_id, s) shingle arrays, the aggregate
    form: explode to posting rows, two md5 digests per row, 16 lanes as
    COLUMNS (no seed-explode), then 16 plain mins that partial-combine
    map-side. md5, the dominant cost, runs 2x per posting instead of
    16x."""
    ex = arr.select("doc_id", F.explode("s").alias("shingle"))
    dg = ex.select(
        "doc_id",
        _ml_digest(F.col("shingle"), 0).alias("d0"),
        _ml_digest(F.col("shingle"), 1).alias("d1"),
    )
    hv = dg.select(
        "doc_id",
        *[
            F.expr(_ml_lane_sql(_ml_lane(i)[0], i)).alias(f"h{i}")
            for i in range(_ML_SEEDS)
        ],
    )
    return hv.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(_ML_SEEDS)]
    )


def _ml_bands(sig: DataFrame, keep: tuple, configs: tuple) -> DataFrame:
    """Band rows (doc_id, *keep, n_bands, band, bh) of signatures
    m0..m15: band b of an (n_bands, rows_per_band) config keys on
    md5(concat_ws('_', m[rpb*b] .. m[rpb*b + rpb - 1]))."""
    structs = [
        F.struct(
            F.lit(nb).alias("n_bands"),
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "_", *[F.col(f"m{rpb * b + j}").cast("string") for j in range(rpb)]
                )
            ).alias("bh"),
        )
        for nb, rpb in configs
        for b in range(nb)
    ]
    return sig.select("doc_id", *keep, F.explode(F.array(*structs)).alias("x")).select(
        "doc_id", *keep, "x.n_bands", "x.band", "x.bh"
    )


def _ml_sig_sql(configs: tuple) -> str:
    """DuckDB CTEs `ts`, `sh` (doc_id, s), `ex`, `dg`, `sig` (doc_id,
    m0..m15) and `bands` (n_bands, doc_id, band, bh): the same scheme,
    stated independently of the Spark builders. Callers append their
    own CTEs and SELECT."""
    sig_cols = ",\n             ".join(
        "MIN({w}) AS m{i}".format(w=_hex_window_sql(*_ml_lane(i)), i=i)
        for i in range(_ML_SEEDS)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        "SELECT {nb} AS n_bands, doc_id, {b} AS band, md5({concat}) AS bh FROM sig".format(
            nb=nb,
            b=b,
            concat=" || '_' || ".join(
                f"CAST(m{rpb * b + j} AS VARCHAR)" for j in range(rpb)
            ),
        )
        for nb, rpb in configs
        for b in range(nb)
    )
    return f"""
    WITH ts AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(0, greatest(len(toks) - 3, 0)),
               i -> array_to_string(toks[i+1:i+4], ' '))) AS s
      FROM ts WHERE len(toks) >= 4
    ), ex AS (
      SELECT doc_id, unnest(s) AS shingle FROM sh
    ), dg AS (
      SELECT doc_id,
             md5(shingle || '#0') AS d0,
             md5(shingle || '#1') AS d1
      FROM ex
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM dg GROUP BY doc_id
    ), bands AS (
      {band_rows}
    )"""


def _ml_oracle() -> str:
    return _ml_sig_sql(_ML_CONFIG) + """, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(len(list_intersect(x.s, y.s)) AS BIGINT) AS n_inter,
           CAST(len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)) AS BIGINT)
             AS n_union,
           CAST((10000 * len(list_intersect(x.s, y.s)))
                // (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
                AS BIGINT) AS jaccard_x10000
    FROM cand c
    JOIN sh x ON x.doc_id = c.doc_a
    JOIN sh y ON y.doc_id = c.doc_b
    WHERE 2 * len(list_intersect(x.s, y.s))
            >= (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
    """


def _ml_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, FULLY oracle-checked: the twin of
    q_minhash_lsh with the engine-specific xxhash64 lanes swapped for
    md5 hex-digit hashing ([[oracle-exactness-playbook]]) so DuckDB
    reproduces signatures, band keys, candidates, and verified pairs
    value-for-value — closing the "LSH is unscored" gap: the banding
    MECHANISM itself is now under the driver's hash, not just its
    exact-verify tail. Keep q_minhash_lsh for throughput (xxhash64 is
    ~an order cheaper per lane than md5); this twin is the
    correctness witness for the same (16 lanes, 4 bands of 4) scheme
    over 4-gram shingles with J >= 0.5 exact verification. The 16
    lanes are 4-hex-digit (16-bit) windows of TWO md5 digests per
    shingle — md5 dominates the twin's cost, and 2 digests give the
    same 16 pairwise-independent-enough lanes as 16 did at 1/8 the
    hash work (lane width only coarsens min-ties; candidates are
    exactly verified afterwards either way).

    Scale shape is identical: signatures partial-aggregate map-side
    (16 plain mins over posting rows), band keys explode to 4 rows per
    doc, the candidate join is equi on (band, band_hash) — O(n)
    shuffle. (Measured alternative: hashing once per DISTINCT shingle
    and joining back is SLOWER here — this corpus's shingle vocabulary
    is ~0.8x its posting list, so the dictionary join's extra shuffle
    outweighs the saved md5 work; on a 100 TB corpus where postings
    outnumber distinct shingles by orders of magnitude, flip to the
    dictionary form. The min per (doc, lane) is invariant to where
    hashes are computed, so the oracle stays valid either way.)

    Round 8: scan fan-out + zip-form shingles (loader.fan_out /
    textops.ngram_join — identical values, parallel construction)."""
    arr = shingles(fan_out(load_table(spark, sf_dir, "documents")), 4)
    bands = _ml_bands(_ml_signatures(arr), (), _ML_CONFIG)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bh")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bh")
    cand = (
        a.join(b, ["band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    x = arr.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    y = arr.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    return (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .withColumns({"n_inter": inter.cast("bigint"), "n_union": union.cast("bigint")})
        .filter(2 * F.col("n_inter") >= F.col("n_union"))
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.expr("CAST((10000 * n_inter) div n_union AS BIGINT)").alias(
                "jaccard_x10000"
            ),
        )
    )


@query(
    "q_minhash_lsh_exact",
    oracle=_ml_oracle(),
    tags=("neardup", "minhash", "lsh", "llm-pipeline"),
)
def q_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of _ml_exact_pairs (see its docstring): the
    md5-portable MinHash-LSH whose signatures, band keys, candidates,
    and verified pairs are all value-for-value under the driver hash."""
    return _ml_exact_pairs(spark, sf_dir)


@query(
    "q_minhash_lsh",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
           CAST(SUM(doc_a * 1000003 + doc_b) AS BIGINT) AS twin_checksum,
           TRUE AS xx_precision_ok,
           TRUE AS xx_recall_vs_twin_ge_80
    FROM ({_ml_oracle()}) m
    """,
    tags=("neardup", "minhash", "lsh"),
)
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 MinHash-LSH throughput path, scored via the sketch-twin
    contract (round-3: closes the last rows-only gap; pattern of
    q_approx_distinct / q_hll_mergeable). The hashed substance is the
    md5-portable twin's pair set (count + doc-id checksum — DuckDB
    replays that pipeline value-for-value); the xxhash64 path that
    production would run certifies itself with two deterministic
    booleans:

    - xx_precision_ok: every pair the xx path emits really has
      raw-token Jaccard >= 0.5, recomputed from the token STRINGS (not
      the int64 token hashes the throughput verify uses), so a hash
      collision inflating a Jaccard would be caught.
    - xx_recall_vs_twin_ge_80: the xx path finds >= 80% of the twin's
      shingle-level near-dup pairs (measured 95.3-100% at the three
      shipped SFs; the twin's pairs are high-similarity clones, which
      banding finds with probability ~1).

    Booleans are deterministic given the data: both pipelines are
    seed-fixed, and sketch min/band math is order-independent. The
    1-row aggregate stitches are broadcast scalar joins, not data
    cartesians; both pair pipelines stay banded-equi-join shaped
    (O(n*bands) shuffle, never all-pairs).

    Round 8 (optimization): each pair frame is consumed TWICE (X by
    the precision check and the recall join, M by the count aggregate
    and the recall join). Unpinned, Catalyst inlines the full shingle
    -> hash -> band -> verify pipeline at every reference — the
    before-plan scanned documents.parquet 36 times
    (`git show 3c849af:plans/r08/q_minhash_lsh_before.txt`). pin() (invocation-scoped
    persist, operators/_pin.py) materializes each pair list (a few
    longs per near-dup pair) once per run and keeps lineage for fault
    tolerance; the next run starts by unpersisting it, so the bench
    never times cache reads."""
    X = pin(_xx_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b"))
    M = pin(_ml_exact_pairs(spark, sf_dir).select("doc_a", "doc_b"))

    # raw-token precision check of the xx-verified pairs
    raw = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_set().alias("rs")
    )
    inter = F.size(F.array_intersect("rs_a", "rs_b"))
    union = F.size("rs_a") + F.size("rs_b") - inter
    prec = (
        X.join(raw.select(F.col("doc_id").alias("doc_a"), F.col("rs").alias("rs_a")), "doc_a")
        .join(raw.select(F.col("doc_id").alias("doc_b"), F.col("rs").alias("rs_b")), "doc_b")
        .agg(
            F.min((2 * inter >= union).cast("int")).alias("min_ok"),
        )
        .select((F.coalesce(F.col("min_ok"), F.lit(1)) == 1).alias("xx_precision_ok"))
    )

    m_agg = M.agg(
        F.count(F.lit(1)).alias("n_twin_pairs"),
        F.sum(F.col("doc_a") * 1000003 + F.col("doc_b")).alias("twin_checksum"),
    )
    common = X.join(M, ["doc_a", "doc_b"]).agg(F.count(F.lit(1)).alias("n_common"))
    return (
        m_agg.crossJoin(F.broadcast(common))
        .crossJoin(F.broadcast(prec))
        .select(
            "n_twin_pairs",
            "twin_checksum",
            "xx_precision_ok",
            (10 * F.col("n_common") >= 8 * F.col("n_twin_pairs")).alias(
                "xx_recall_vs_twin_ge_80"
            ),
        )
    )


_RNG_N = 8  # words per gram
_RNG_FLAG = 0.2  # flag docs whose duplicated-position share exceeds this


@query(
    "q_repeated_ngram_profile",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS ts
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             array_to_string(ts[i:i + {_RNG_N - 1}], ' ') AS gram
      FROM tok, UNNEST(range(1, len(ts) - {_RNG_N} + 2)) AS t(i)
    ),
    df AS (
      SELECT gram, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
      FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup,
           CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS dup_ratio,
           CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) >= {_RNG_FLAG} AS flagged
    FROM g JOIN df ON g.gram = df.gram
    GROUP BY g.doc_id
    """,
    tags=("neardup", "llm-pipeline", "substring-dedup", "ngram"),
)
def q_repeated_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-passage profile: for every document,
    the share of its 8-word-gram positions whose gram also occurs in
    at least one OTHER document, plus a curation flag at 20% — the
    distributable approximation of exact-substring deduplication
    (Lee et al., "Deduplicating Training Data Makes Language Models
    Better", ACL'22: their suffix-array dedup is single-machine;
    fixed-length gram df is the shuffle-friendly form every large
    corpus pipeline actually runs, cf. Dolma/RedPajama dedup configs).

    Dataflow: tokenize map-side -> one gram row per position
    (transform+explode, no joins) -> gram document-frequency hash
    aggregate -> 1:1 equi-join of gram rows to their df -> per-doc
    aggregate. Two O(total-positions) key shuffles (df agg, df join)
    plus the final per-doc agg; nothing quadratic, no gram ever
    expands beyond its own positions — a viral gram contributes its
    df row once (contrast the posting-list join in
    q_prefix_filter_pairs where skew needs AQE). At 100 TB the gram
    STRING key would be replaced by a 128-bit digest to cut shuffle
    bytes (md5-portable pattern, q_minhash_lsh_exact) and docs under
    8 tokens are dropped by construction in both engines.

    Exactness: counts are ints; dup_ratio is a single IEEE division
    of two exact ints, and the flag threshold compares that identical
    double in both engines — no accumulation anywhere."""
    # r8: scan fan-out + zip-form grams (identical values)
    d = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id", tokens().alias("ts"))
    g = (
        d.filter(F.size("ts") >= _RNG_N)
        .select("doc_id", F.explode(ngram_join(F.col("ts"), _RNG_N)).alias("gram"))
    )
    df = g.groupBy("gram").agg(F.countDistinct("doc_id").alias("ndocs"))
    dup = F.sum(F.when(F.col("ndocs") >= 2, 1).otherwise(0))
    return (
        g.join(df, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            dup.alias("n_dup"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_ratio"),
            (dup.cast("double") / F.count(F.lit(1)) >= F.lit(_RNG_FLAG)).alias(
                "flagged"
            ),
        )
    )


def ml_bands_maponly(d: DataFrame) -> DataFrame:
    """(doc_id, s, n_bands, band, bh) band rows for the md5-portable MinHash
    scheme (_ml_exact_pairs' 16 lanes / 4 bands), computed WITHOUT the
    per-doc aggregation: each lane's minhash is an array_min over the
    shingle array (HOF fold inside the row), so the derivation is
    MAP-ONLY — a STREAMING DataFrame can band its rows statelessly
    (no shuffle, no state) before a stream-static index join. Batch
    callers get bit-identical bands to the aggregate form: min over
    exploded posting rows == array_min over the same array.

    Cost note: batch callers keep the aggregate form. Both shapes run
    md5 twice per shingle, but they are not interchangeable for batch:
    with these map-only lanes q_minhash_lsh took 10.37 s against 7.27 s
    for the aggregate form (sf0.1, local[2] on a 4-vCPU shared host,
    median of 8 interleaved warm rounds, map-only faster in 0 of 8);
    on perfbench's seed-1 tables, 2.67 s against 2.62 s. This form
    exists because a stream can only band statelessly."""
    dgs = shingles(d, 4).select(
        "doc_id",
        "s",
        F.transform("s", lambda x: _ml_digest(x, 0)).alias("g0"),
        F.transform("s", lambda x: _ml_digest(x, 1)).alias("g1"),
    )
    lanes = dgs.select(
        "doc_id",
        "s",
        *[
            F.expr(
                f"array_min(transform(g{_ml_lane(i)[0][-1]}, h -> {_ml_lane_sql('h', i)}))"
            ).alias(f"m{i}")
            for i in range(_ML_SEEDS)
        ],
    )
    return _ml_bands(lanes, ("s",), _ML_CONFIG)


def _lshc_oracle() -> str:
    return _ml_sig_sql(_LSH_CONFIGS) + """, cand AS (
      SELECT DISTINCT a.n_bands, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.n_bands = b.n_bands AND a.band = b.band AND a.bh = b.bh
      WHERE a.doc_id < b.doc_id
    ), verified AS (
      SELECT c.n_bands, c.doc_a, c.doc_b
      FROM cand c
      JOIN sh x ON x.doc_id = c.doc_a
      JOIN sh y ON y.doc_id = c.doc_b
      WHERE 2 * len(list_intersect(x.s, y.s))
            >= (len(x.s) + len(y.s) - len(list_intersect(x.s, y.s)))
    ), ref AS (
      SELECT DISTINCT doc_a, doc_b FROM verified
    ),
    grid AS (SELECT * FROM (VALUES (2, 8), (4, 4), (8, 2)) t(n_bands, rows_per_band))
    SELECT g.n_bands, CAST(g.rows_per_band AS BIGINT) AS rows_per_band,
           CAST((SELECT COUNT(*) FROM cand c
                 WHERE c.n_bands = g.n_bands) AS BIGINT) AS candidate_pairs,
           CAST((SELECT COUNT(*) FROM verified v
                 WHERE v.n_bands = g.n_bands) AS BIGINT) AS verified_pairs,
           CAST((SELECT COUNT(*) FROM ref) AS BIGINT) AS pooled_pairs,
           CAST(CASE WHEN (SELECT COUNT(*) FROM ref) = 0 THEN 0
                ELSE (100 * (SELECT COUNT(*) FROM verified v
                             WHERE v.n_bands = g.n_bands))
                     // (SELECT COUNT(*) FROM ref) END AS BIGINT)
             AS recall_vs_pool_x100
    FROM grid g
    """


@query(
    "q_lsh_parameter_curve",
    oracle=_lshc_oracle(),
    tags=("neardup", "lsh", "minhash", "parameter-curve", "llm-pipeline"),
)
def q_lsh_parameter_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash-LSH s-curve DIAL, measured in one query — the
    banding sibling of q_ann_recall_curve: the SAME 16 md5-portable
    minhash lanes regrouped as 2x8 / 4x4 / 8x2 (bands x rows), with
    candidate cost, verified J>=0.5 pairs, and recall against the
    exact reference per configuration. Fewer, wider bands (2x8) means
    near-zero false candidates but misses borderline pairs; more,
    narrower bands (8x2) catches them at quadratically more candidate
    verifications — the curve is the evidence behind the default 4x4.
    Signatures are computed ONCE; each configuration only re-concats
    lane subsets into band keys (zero extra corpus passes).

    Recall reference: the POOLED verified set — the union of exact
    J >= 0.5 pairs found by any configuration (TREC-style pooling,
    the standard when exhaustive truth is unaffordable; the unblocked
    all-pairs join is the measured 26.7x-at-10x quadratic this family
    exists to avoid). A pair missed by EVERY config is invisible to
    the pool — with 8x2 banding in the pool that class is pairs
    colliding in none of 8 two-lane bands, probability (1-s^2)^8
    (~2e-4 at s = 0.8).

    Scale: one signature aggregate (16 map-side mins), three banded
    equi-joins on O(n*bands) rows, verification only on candidates —
    no quadratic stage anywhere; measuring the dial costs barely more
    than running the default."""
    d = fan_out(load_table(spark, sf_dir, "documents"))
    arr = shingles(d, 4).localCheckpoint(eager=False)
    sig = _ml_signatures(arr).localCheckpoint(eager=False)
    bands = _ml_bands(sig, (), _LSH_CONFIGS)
    a = bands.select(
        F.col("doc_id").alias("doc_a"), "n_bands", "band", "bh"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), "n_bands", "band", "bh"
    )
    cand = (
        a.join(b, ["n_bands", "band", "bh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("n_bands", "doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    x = arr.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("sa"))
    y = arr.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    union = F.size("sa") + F.size("sb") - inter
    verified = (
        cand.join(x, "doc_a")
        .join(y, "doc_b")
        .filter(2 * inter >= union)
        .select("n_bands", "doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    pool = verified.select("doc_a", "doc_b").distinct()
    grid = spark.createDataFrame(
        list(_LSH_CONFIGS), "n_bands int, rows_per_band int"
    )
    n_cand = cand.groupBy("n_bands").agg(
        F.count(F.lit(1)).alias("candidate_pairs")
    )
    n_ver = verified.groupBy("n_bands").agg(
        F.count(F.lit(1)).alias("verified_pairs")
    )
    n_pool = pool.agg(F.count(F.lit(1)).alias("pooled_pairs"))
    return (
        grid.join(n_cand, "n_bands", "left")
        .join(n_ver, "n_bands", "left")
        .join(F.broadcast(n_pool))
        .select(
            "n_bands",
            F.col("rows_per_band").cast("bigint").alias("rows_per_band"),
            F.coalesce("candidate_pairs", F.lit(0))
            .cast("bigint")
            .alias("candidate_pairs"),
            F.coalesce("verified_pairs", F.lit(0))
            .cast("bigint")
            .alias("verified_pairs"),
            F.col("pooled_pairs").cast("bigint").alias("pooled_pairs"),
            F.expr(
                "CAST(CASE WHEN pooled_pairs = 0 THEN 0"
                " ELSE (100 * COALESCE(verified_pairs, 0))"
                " div pooled_pairs END AS BIGINT)"
            ).alias("recall_vs_pool_x100"),
        )
    )


# ---------------------------------------------------------------------
# q_minhash_containment (round 7)
# ---------------------------------------------------------------------

_CONT_SHINGLE = 4  # token 4-gram shingles (repo-wide near-dup grain)
_CONT_DFMAX = 20  # candidate blocking: only shingles in <= 20 docs seed pairs
_CONT_THRESH_PPM = 500_000  # emit pairs with containment >= 50%


@query(
    "q_minhash_containment",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3]) AS shingle
      FROM (
        SELECT doc_id, t,
               unnest(generate_series(1, len(t) - {_CONT_SHINGLE - 1}))
                 AS i
        FROM toks WHERE len(t) >= {_CONT_SHINGLE}
      )
    ),
    size_a AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1
    ),
    rare AS (
      SELECT shingle FROM sh GROUP BY shingle
      HAVING COUNT(*) BETWEEN 2 AND {_CONT_DFMAX}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN rare USING (shingle) JOIN sh b USING (shingle)
      WHERE a.doc_id <> b.doc_id
    ),
    common AS (
      SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY 1, 2
    )
    SELECT m.doc_a, m.doc_b, m.n_common, s.n_sh AS n_shingles_a,
           CAST((1000000 * m.n_common) // s.n_sh AS BIGINT)
             AS containment_ppm
    FROM common m JOIN size_a s ON s.doc_id = m.doc_a
    WHERE (1000000 * m.n_common) // s.n_sh >= {_CONT_THRESH_PPM}
    """,
    tags=("neardup", "containment", "asymmetric", "llm-pipeline"),
)
def q_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT C(A,B) = |S(A) ∩ S(B)| / |S(A)|
    over token 4-gram shingle sets — the doc-inside-doc detector that
    resemblance-based Jaccard dedup misses (a paragraph fully quoted
    inside a larger page has high containment but low Jaccard; Broder's
    original distinction). Directed pairs with C >= 50% survive.

    Candidate generation is RARE-SHINGLE BLOCKING: only shingles
    appearing in 2..{_CONT_DFMAX} docs seed pairs (the posting join's
    fan-out is df-capped, so its cost is Σ df² over rare shingles —
    never all-pairs); the true intersection is then recomputed EXACTLY
    for candidates from the full shingle sets. Pairs sharing only
    ultra-common shingles are missed by design — documented recall
    trade, standard in production dedup (common shingles carry no
    containment evidence worth the quadratic postings).

    Exactness: distinct-shingle sets and intersection counts are exact
    integers; containment_ppm is one truncating division of positive
    integers — identical on both engines.

    Scale: shingling explodes map-side; the df-capped posting join and
    the (doc_a, shingle)-keyed verify join shuffle posting rows, not
    the corpus squared; every aggregate has map-side partials.

    Fault posture (round 8): the exploded shingle frame (~10x corpus
    bytes, three consumers) is pinned DISK_ONLY (operators/_pin.py),
    NOT localCheckpoint — lineage is kept, so a lost executor
    recomputes its blocks from the parquet scan instead of failing the
    job, and the explosion never competes with shuffle/aggregate
    execution memory. The pin is scoped to this invocation and
    unpersisted when the next one starts: a bare persist() leaks
    results across runs through the CacheManager's canonical-plan
    match (measured: run 1 = 15.2 s, run 2 = 2.6 s reading the first
    run's cache), which the bench methodology forbids."""
    # Scan fan-out + zip-form shingles (r8): identical shingle values
    # (positions 1..len-3 of the empty-filtered token array, ' '
    # joins), built the parallel, per-row-cheap way — see
    # loader.fan_out / textops.ngram_join.
    d = fan_out(load_table(spark, sf_dir, "documents"))
    tk = d.select("doc_id", tokens().alias("tk"))
    grams = shingle_set(F.col("tk"), 4)
    # Feeds sizes, postings AND verify (three consumers), so the
    # exploded frame is materialized ONCE — pinned, not
    # localCheckpoint'ed: persist keeps lineage, so at 100 TB a lost
    # executor recomputes its shingle blocks from the parquet scan
    # instead of failing the job (localCheckpoint severs lineage —
    # VERDICT r7 "What's wrong" #1). DISK_ONLY because the explosion
    # is ~10x corpus bytes — it must never compete with shuffle/agg
    # memory at scale; local reads off the shuffle disks are cheap
    # relative to the posting joins they feed. pin() (not a bare
    # persist) so each invocation recomputes from parquet instead of
    # silently reading an earlier run's cache.
    sh = pin(
        tk.select("doc_id", F.explode(grams).alias("shingle")),
        StorageLevel.DISK_ONLY,
    )
    size_a = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    rare = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _CONT_DFMAX))
        .select("shingle")
    )
    post = sh.join(rare, "shingle")
    cand = (
        post.select("shingle", F.col("doc_id").alias("doc_a"))
        .join(
            post.select("shingle", F.col("doc_id").alias("doc_b")), "shingle"
        )
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = common.join(
        size_a.select(F.col("doc_id").alias("doc_a"), "n_sh"), "doc_a"
    ).select(
        "doc_a",
        "doc_b",
        "n_common",
        F.col("n_sh").alias("n_shingles_a"),
        F.expr("CAST((1000000 * n_common) div n_sh AS BIGINT)").alias(
            "containment_ppm"
        ),
    )
    return out.filter(F.col("containment_ppm") >= _CONT_THRESH_PPM)


# ---------------------------------------------------------------------
# q_simhash_dedup (round 8)
# ---------------------------------------------------------------------

_SIMHASH_HAMMING_MAX = 3  # pigeonhole-complete with the 4 16-bit chunks


def _simhash_dedup_oracle() -> str:
    from ..registry import REGISTRY

    sh = REGISTRY["q_simhash"].oracle
    return f"""
    WITH sh AS ({sh})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT))
             AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT))
          <= {_SIMHASH_HAMMING_MAX}
    """


@query(
    "q_simhash_dedup",
    oracle=_simhash_dedup_oracle(),
    tags=("neardup", "simhash", "hamming", "dedup", "llm-pipeline"),
)
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS (Charikar 2002 / Manku et al.
    2007's web-dedup deployment): the 64-bit sketches q_simhash
    computes, blocked by their four 16-bit chunks (a pair within
    Hamming {_SIMHASH_HAMMING_MAX} differs in at most 3 chunks, so at
    least one chunk matches — blocking is COMPLETE at the threshold),
    then verified by exact xor+bit_count. Completes the text near-dup
    trio as deployable pair detectors: MinHash-LSH (Jaccard),
    containment (doc-inside-doc), SimHash (cosine-angle) — plus phash
    (image) and the audio fingerprint on the same banded-blocking
    contract. The oracle states the truth as the full all-pairs join
    the banded plan must reproduce.

    Exactness: sketches are the registered q_simhash values (one
    source of truth — md5-bit sums, engine-checked); Hamming distances
    are exact integers.

    Scale: the sketch aggregate runs ONCE (checkpointed — the 64
    conditional sums are the dominant cost and must not replay per
    self-join branch); chunks block into 65,536 buckets each, so
    candidates are bucket-bounded; only five longs per doc shuffle."""
    from ..registry import REGISTRY

    sketch = (
        REGISTRY["q_simhash"].fn(spark, sf_dir)
        .select("doc_id", "simhash", "chunk0", "chunk1", "chunk2", "chunk3")
        .localCheckpoint(eager=False)
    )
    bands = sketch.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_id"),
                        F.col(f"chunk{i}").alias("band_val"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_id", "band.band_val")
    cand = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band_id") == F.col("y.band_id"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("x.simhash").alias("sh_a"),
            F.col("y.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.expr("sh_a ^ sh_b")).cast("long").alias("hamming"),
    ).filter(F.col("hamming") <= _SIMHASH_HAMMING_MAX)
