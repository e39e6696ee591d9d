"""semdedup's conditional depth-2 bucket refinement
(similarity.semdedup_keyed): planted mega-buckets split twice, small
and mid-sized buckets keep their keying."""

from __future__ import annotations


def _keyed_rows(spark, rows):
    from data_lake_with_spark_and_aws_s3_spark.operators.similarity import (
        semdedup_keyed,
    )

    df = spark.createDataFrame(rows, "vec_id long, k int, bv int, rv int, rv2 int")
    return semdedup_keyed(df).collect()


def test_semdedup_small_bucket_keying_unchanged(spark):
    """At/below _SEMDEDUP_SPLIT both refinement levels stay off — the
    bit-identical-below-threshold contract the shipped SFs rely on."""
    rows = [(i, 0, 7, i % 16, (i * 3) % 16) for i in range(256)]
    out = _keyed_rows(spark, rows)
    assert len(out) == 256
    assert all(r["rk"] == -1 and r["rk2"] == -1 for r in out)


def test_semdedup_mega_bucket_splits_twice(spark):
    """Planted mega-bucket: 5000 rows colliding on (k, bv) AND on the
    level-1 nibble rv must be split again by the NEXT band's nibble —
    the depth-2 ladder bounds the verify stage's O(bucket^2)."""
    # level-1 collision too: every row has rv=3, so the first split
    # produces ONE refined bucket of 5000 — exactly the single-level
    # ceiling VERDICT r5 flagged — and rv2 (uniform over 16) must
    # carve it to ~313-row leaves.
    rows = [(i, 1, 9, 3, i % 16) for i in range(5000)]
    # plus a disjoint small bucket that must stay unrefined
    rows += [(10_000 + i, 1, 2, i % 16, i % 16) for i in range(10)]
    out = _keyed_rows(spark, rows)
    mega = [r for r in out if r["bv"] == 9]
    small = [r for r in out if r["bv"] == 2]
    assert all(r["rk"] == 3 for r in mega)  # level 1 fired (uselessly uniform)
    assert all(r["rk2"] == r["vec_id"] % 16 for r in mega)  # level 2 fired
    from collections import Counter

    leaf = Counter((r["rk"], r["rk2"]) for r in mega)
    assert max(leaf.values()) <= 313  # 5000 / 16 rounded up
    assert all(r["rk"] == -1 and r["rk2"] == -1 for r in small)


def test_semdedup_level2_conditional_on_refined_size(spark):
    """A bucket the FIRST split already bounds must not re-key again:
    600 rows, rv uniform over 16 -> refined buckets of ~38, level 2
    stays -1 (keying stability for mid-sized buckets)."""
    rows = [(i, 2, 4, i % 16, (i * 7) % 16) for i in range(600)]
    out = _keyed_rows(spark, rows)
    assert all(r["rk"] == r["vec_id"] % 16 for r in out)
    assert all(r["rk2"] == -1 for r in out)
