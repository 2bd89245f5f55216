"""Salted-join / hot-key-split-join correctness (result equivalence with a
plain join)."""

import pandas as pd

from softcite_kb_spark.functions import skew


def _skewed_frames(spark):
    # 90% of fact rows hit one hot key
    fact = pd.DataFrame({
        "k": ["hot"] * 900 + [f"k{i}" for i in range(100)],
        "v": range(1000),
    })
    dim = pd.DataFrame({
        "k": ["hot"] + [f"k{i}" for i in range(100)] + ["unmatched"],
        "w": range(102),
    })
    return spark.createDataFrame(fact), spark.createDataFrame(dim)


def test_salted_join_equivalence(spark):
    fact, dim = _skewed_frames(spark)
    plain = {tuple(r) for r in fact.join(dim, "k").select("k", "v", "w").collect()}
    salted = {tuple(r) for r in
              skew.salted_join(fact, dim, "k", salt_buckets=8)
              .select("k", "v", "w").collect()}
    assert salted == plain


def test_hot_key_split_join_equivalence(spark):
    fact, dim = _skewed_frames(spark)
    for how in ("inner", "left"):
        plain = sorted(map(tuple,
                           fact.join(dim, "k", how).select("k", "v", "w").collect()),
                       key=str)
        split = sorted(map(tuple,
                           skew.hot_key_split_join(fact, dim, "k", threshold=100,
                                                   how=how)
                           .select("k", "v", "w").collect()),
                       key=str)
        assert split == plain, how


def test_hot_keys_detection(spark):
    fact, _ = _skewed_frames(spark)
    hk = [r.k for r in skew.hot_keys(fact, "k", 100).collect()]
    assert hk == ["hot"]


def test_salted_join_rejects_outer(spark):
    """right/full outer would duplicate unmatched small-side rows once per
    salt replica — rejected explicitly."""
    import pytest
    df = spark.createDataFrame(pd.DataFrame({"k": [1], "v": [1]}))
    with pytest.raises(ValueError, match="salted_join supports"):
        skew.salted_join(df, df.withColumnRenamed("v", "w"), "k", how="full")
