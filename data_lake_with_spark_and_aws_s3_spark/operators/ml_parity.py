"""pyspark.ml feature-pipeline parity: the MLlib classes
(HashingTF / IDF / MinHashLSH) exercised on the oracle surface and
cross-checked against this repo's hand-rolled equivalents
(q_feature_hash, q_minhash_lsh_exact).

The reference's ecosystem offers these as the off-the-shelf path for
hashed featurization and LSH near-dup; SURVEY.md §2.10 lists them as
the alternative to the hand-rolled operators. Functionally nothing is
missing without them — but a user switching from `pyspark.ml` code
should find the classes themselves demonstrated, plan-audited, and
tied by tests to the exactly-oracle-checked hand-rolled twins.

Oracle design (sketch-twin pattern, as q_approx_distinct /
q_hll_mergeable / q_minhash_lsh): MLlib's murmur3 bucket ids and
seeded minhash coefficients are deterministic inside Spark but not
reproducible in DuckDB, so the hashed surface carries (a) values
DuckDB CAN recompute exactly (token counts; the md5-portable twin's
pair set) and (b) contract booleans that are deterministic given the
data (vector mass conservation; IDF non-negativity; measured recall
of the ml path against the twin with a generous floor). Raw
murmur3-dependent values stay out of the hash. The bucket-exact
equality of the ml vectors against an independent recomputation is
asserted in tests/test_ml_parity.py (Spark-vs-Spark, collision-proof
via a single-token probe corpus that extracts the ml hash mapping).

At 100 TB: HashingTF/IDF is the same shape as q_feature_hash — one
explode + hash aggregate, vocabulary-free, bounded width; MinHashLSH's
approxSimilarityJoin is a banded equi-join on minhash values
(O(n * numHashTables) shuffle, never all-pairs) followed by an exact
distance post-filter — the same candidates->verify layout as
operators/neardup.py, so the scale accounting in SCALE.md transfers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.textops import shingles, tokens
from ..registry import query
from ..sources.loader import fan_out, load_table
from .neardup import _ml_exact_pairs, _ml_oracle

# Modest width on purpose: the hashed surface and the bucket-exact
# tests are collision-proof, and the registered query extracts vector
# values via vector_to_array, which DENSIFIES — a 2^18-dim array per
# doc would put ~0.5 GB of zeros through every downstream operator.
# Width is a memory/collision dial, not a correctness one.
_TFIDF_DIM = 1024
_MH_TABLES = 16       # OR-amplification: P(miss) <= 0.5^16 per true pair
_MH_DIM = 1 << 18     # binary set-membership feature space for MinHashLSH


def _token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, toks array<string>) with empty tokens
    dropped; the shared input for both ml pipelines."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        tokens().alias("toks"),
    )


def ml_hashing_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HashingTF(counts) -> IDF fit/transform; returns doc_id with the
    raw tf and tfidf vectors (ml vector columns — internal use; the
    registered query derives a hashable surface from this)."""
    from pyspark.ml.feature import IDF, HashingTF

    toks = _token_df(spark, sf_dir)
    tf = HashingTF(inputCol="toks", outputCol="tf_vec", numFeatures=_TFIDF_DIM)
    with_tf = tf.transform(toks)
    idf = IDF(inputCol="tf_vec", outputCol="tfidf_vec").fit(with_tf)
    return idf.transform(with_tf)


@query(
    "q_ml_hashing_tfidf",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) t WHERE t.tok <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           TRUE AS dims_bounded,
           TRUE AS tfidf_nonneg
    FROM tok GROUP BY doc_id
    """,
    tags=("ml-parity", "feature-hashing", "tfidf", "llm-pipeline"),
)
def q_ml_hashing_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pyspark.ml` HashingTF + IDF on the documents corpus — the
    MLlib face of q_feature_hash (operators/sketches.py) and
    q_tfidf_topterms (operators/text.py).

    Hashed surface (sketch-twin): per doc, n_tokens is recovered by
    SUMMING the HashingTF vector's values — mass conservation: the
    hashing trick may collide buckets but never loses or invents
    counts, so the sum equals the DuckDB token count exactly, proving
    the ml path really computed term frequencies for every token.
    dims_bounded (active dims <= min(dim, n_tokens)) and tfidf_nonneg
    (IDF's ln((N+1)/(df+1)) >= 0 for df <= N, so every tfidf value is
    >= 0) are deterministic invariants given ANY data. Murmur3 bucket
    ids stay out of the hash; their bucket-exact correctness is
    asserted Spark-vs-Spark in tests/test_ml_parity.py."""
    from pyspark.ml.functions import vector_to_array

    out = ml_hashing_tfidf(spark, sf_dir)
    tf_vals = vector_to_array(F.col("tf_vec"))
    tfidf_vals = vector_to_array(F.col("tfidf_vec"))
    return out.select(
        "doc_id",
        F.aggregate(
            tf_vals, F.lit(0.0), lambda acc, x: acc + x
        ).cast("bigint").alias("n_tokens"),
        (
            F.size(F.filter(tf_vals, lambda x: x != 0))
            <= F.least(
                F.lit(_TFIDF_DIM),
                F.aggregate(tf_vals, F.lit(0.0), lambda a, x: a + x).cast("bigint"),
            )
        ).alias("dims_bounded"),
        (F.size(F.filter(tfidf_vals, lambda x: x < 0)) == 0).alias("tfidf_nonneg"),
    )


def ml_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH.approxSimilarityJoin over binary 4-gram-shingle
    vectors — the SAME set universe as the md5-portable twin
    (operators/neardup.py), so the recall contract compares like with
    like. Candidate pairs at Jaccard distance <= 0.5 (similarity >=
    0.5), deduplicated to doc_a < doc_b. approxSimilarityJoin
    post-filters candidates by the EXACT vector Jaccard distance, so
    the output is the exact >= 0.5 pair set in feature space minus
    any LSH misses (P(miss) <= 0.5^{tables} per pair).

    Shingles, not unigram tokens, on purpose: this corpus's WORD
    vocabulary is ~40 strings, so a unigram minhash concentrates on a
    handful of min values and the per-table bucket join degenerates
    toward all-pairs (measured: >7 min at sf0.1). The ~|postings|
    shingle universe spreads the minhash, keeping the join
    O(n * tables) — the same reason every neardup operator here
    shingles first."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # r8: scan fan-out + zip-form shingles (identical values)
    sets = shingles(fan_out(load_table(spark, sf_dir, "documents")), 4)
    tf = HashingTF(inputCol="s", outputCol="vec", numFeatures=_MH_DIM, binary=True)
    feats = tf.transform(sets).select("doc_id", "vec")
    model = MinHashLSH(
        inputCol="vec", outputCol="sig", numHashTables=_MH_TABLES, seed=42
    ).fit(feats)
    joined = model.approxSimilarityJoin(feats, feats, 0.5, distCol="jdist")
    return (
        joined.select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .distinct()
    )


@query(
    "q_ml_minhash_lsh",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_twin_pairs,
           CAST(SUM(doc_a * 1000003 + doc_b) AS BIGINT) AS twin_checksum,
           TRUE AS ml_recall_vs_twin_ge_90
    FROM ({_ml_oracle()}) m
    """,
    tags=("ml-parity", "minhash", "lsh", "neardup", "llm-pipeline"),
)
def q_ml_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pyspark.ml` MinHashLSH near-dup pass, scored via the
    sketch-twin contract (pattern of q_minhash_lsh): the hashed
    substance is the md5-portable twin's verified pair set
    (q_minhash_lsh_exact's pipeline — count + doc-id checksum, which
    DuckDB replays value-for-value); the MLlib path certifies itself
    with a measured boolean:

    - ml_recall_vs_twin_ge_90: approxSimilarityJoin at Jaccard
      distance 0.5 recovers >= 90% of the twin's near-dup pairs.
      Expected 100%: the twin's pairs all have token-Jaccard >= 0.5,
      approxSimilarityJoin post-filters by exact feature-space
      distance, and a true pair escapes all {_MH_TABLES} OR-ed hash
      tables with probability <= 0.5^{_MH_TABLES} ~ 1.5e-5. The 90%
      floor keeps the contract robust to testdata regeneration.

    The seed is fixed, minhash per-table minima are order- and
    partition-independent, and the post-filter is exact arithmetic —
    the boolean is deterministic given the data. Both pipelines stay
    banded-equi-join shaped; the 1-row aggregate stitch below is a
    broadcast scalar join (NLJ-allowlisted), not a data cartesian."""
    ml = ml_minhash_pairs(spark, sf_dir)
    twin = _ml_exact_pairs(spark, sf_dir).select("doc_a", "doc_b")
    t_agg = twin.agg(
        F.count(F.lit(1)).alias("n_twin_pairs"),
        F.sum(F.col("doc_a") * 1000003 + F.col("doc_b")).alias("twin_checksum"),
    )
    common = twin.join(ml, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).alias("n_common")
    )
    return t_agg.crossJoin(F.broadcast(common)).select(
        "n_twin_pairs",
        "twin_checksum",
        (F.col("n_common") * 10 >= F.col("n_twin_pairs") * 9).alias(
            "ml_recall_vs_twin_ge_90"
        ),
    )
