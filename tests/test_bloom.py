"""Bloom-filter semi-join reduction: no false negatives, SQL twin parity."""

import duckdb
import pytest
from pyspark.sql import functions as F

from goffish_v3_spark.operators.bloom import (
    bloom_bits,
    bloom_bits_sql,
    bloom_prefilter,
)


@pytest.fixture()
def frames(spark):
    dim = spark.range(0, 200).select((F.col("id") * 13 + 7).alias("key"))
    fact = spark.range(0, 5_000).select(
        (F.col("id") % 900).alias("fk"), (F.col("id") * 3).alias("payload")
    )
    return dim, fact


def test_prefilter_has_no_false_negatives(spark, frames):
    dim, fact = frames
    bits = bloom_bits(dim, "key", m=1024, k=3, seed=0)
    cand = bloom_prefilter(fact, "fk", bits, m=1024, k=3, seed=0)
    true_semi = fact.join(
        dim.withColumnRenamed("key", "fk"), "fk", "left_semi"
    )
    # candidates ⊇ true semi-join, row multiplicity preserved
    missing = true_semi.exceptAll(cand)
    assert missing.count() == 0
    assert cand.columns == fact.columns


def test_prefilter_then_join_equals_plain_join(spark, frames):
    dim, fact = frames
    bits = bloom_bits(dim, "key", m=512, k=2, seed=1)
    cand = bloom_prefilter(fact, "fk", bits, m=512, k=2, seed=1)
    dimr = dim.withColumnRenamed("key", "fk")
    via_bloom = cand.join(dimr, "fk").orderBy("fk", "payload")
    plain = fact.join(dimr, "fk").orderBy("fk", "payload")
    assert via_bloom.collect() == plain.collect()


def test_bits_bounded_and_deterministic(spark, frames):
    dim, _ = frames
    a = sorted(r.pos for r in bloom_bits(dim, "key", m=64, k=4, seed=2).collect())
    b = sorted(r.pos for r in bloom_bits(dim, "key", m=64, k=4, seed=2).collect())
    assert a == b
    assert len(a) <= 64
    assert all(0 <= p < 64 for p in a)


def test_bits_match_duckdb_twin(spark):
    dim = spark.range(0, 300).select((F.col("id") * 17 + 1).alias("key"))
    got = sorted(
        r.pos for r in bloom_bits(dim, "key", m=256, k=3, seed=5).collect()
    )
    sql = bloom_bits_sql(
        "(SELECT UNNEST(RANGE(0, 300)) * 17 + 1 AS key)",
        "key",
        m=256,
        k=3,
        seed=5,
    )
    exp = sorted(row[0] for row in duckdb.connect().execute(sql).fetchall())
    assert got == exp


def test_param_validation(spark, frames):
    dim, fact = frames
    for m, k in ((1, 3), (1024, 0), (1024, 17)):
        with pytest.raises(ValueError):
            bloom_bits(dim, "key", m=m, k=k)
        with pytest.raises(ValueError):
            bloom_prefilter(fact, "fk", dim, m=m, k=k)
    with pytest.raises(ValueError, match="h1/h2"):
        bloom_prefilter(
            fact.withColumn("h1", F.lit(0)), "fk", dim.toDF("pos"), m=64, k=2
        )


@pytest.mark.parametrize(
    "params", [{"m": 512}, {"k": 2}, {"seed": 4}], ids=["m", "k", "seed"]
)
def test_prefilter_rejects_parameter_mismatch(spark, frames, params):
    """Probing with other (m, k, seed) than the bits were built with would
    drop true rows silently; the tag on ``pos`` makes it raise."""
    dim, fact = frames
    built = {"m": 1024, "k": 3, "seed": 0}
    bits = bloom_bits(dim, "key", **built)
    with pytest.raises(ValueError, match="does not match"):
        bloom_prefilter(fact, "fk", bits, **{**built, **params})
    assert bloom_prefilter(fact, "fk", bits, **built).columns == fact.columns


def test_prefilter_rejects_untagged_bits(spark, frames):
    dim, fact = frames
    untagged = bloom_bits(dim, "key", m=64, k=2).select(F.col("pos") + 0)
    with pytest.raises(ValueError, match="tag"):
        bloom_prefilter(fact, "fk", untagged.toDF("pos"), m=64, k=2)


def test_merged_filters_keep_the_tag(spark, frames):
    """The documented merge, ``bits1.union(bits2).distinct()``, of two
    filters built with the same parameters passes and has no false
    negatives against either side."""
    dim, fact = frames
    other = spark.range(0, 100).select((F.col("id") * 11 + 3).alias("key"))
    merged = (
        bloom_bits(dim, "key", m=1024, k=3, seed=1)
        .union(bloom_bits(other, "key", m=1024, k=3, seed=1))
        .distinct()
    )
    cand = bloom_prefilter(fact, "fk", merged, m=1024, k=3, seed=1)
    keys = dim.union(other).withColumnRenamed("key", "fk")
    assert fact.join(keys, "fk", "left_semi").exceptAll(cand).count() == 0
