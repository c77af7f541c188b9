"""KMV distinct sketch: estimate accuracy, exhaustive-exact path, cross-
engine twin, duplicate-insensitivity, and top-k (not global-sort) plan."""

import re

import duckdb
import pytest
from pyspark.sql import functions as F

from goffish_v3_spark.operators.sketch import kmv_distinct_estimate, kmv_sql


def test_estimate_within_kmv_error_bounds(spark):
    # 10k distinct keys, k=256 -> relative standard error ~ 1/sqrt(k-2) ≈ 6%
    df = spark.range(0, 10_000).withColumnRenamed("id", "u")
    row = kmv_distinct_estimate(df, "u", k=256).first()
    assert row.n_hashes == 256
    assert abs(row.est_distinct - 10_000) / 10_000 < 0.2


def test_exact_when_under_k(spark):
    df = spark.range(0, 40).withColumnRenamed("id", "u")
    row = kmv_distinct_estimate(df, "u", k=64).first()
    assert row.n_hashes == 40
    assert row.est_distinct == 40.0  # exhaustive sketch -> exact count


def test_duplicates_do_not_move_the_estimate(spark):
    base = spark.range(0, 5_000).withColumnRenamed("id", "u")
    dup = base.union(base).union(base)
    a = kmv_distinct_estimate(base, "u", k=128).first()
    b = kmv_distinct_estimate(dup, "u", k=128).first()
    assert (a.kth_hash, a.est_distinct) == (b.kth_hash, b.est_distinct)


def test_matches_duckdb_twin(spark):
    df = spark.range(0, 3_000).withColumnRenamed("id", "u")
    got = kmv_distinct_estimate(df, "u", k=32, seed=5).first()
    exp = duckdb.connect().execute(
        kmv_sql("(SELECT UNNEST(RANGE(0, 3000)) AS u)", "u", k=32, seed=5)
    ).fetchone()
    assert (got.k, got.n_hashes, got.kth_hash, got.est_distinct) == exp


def test_rejects_degenerate_k(spark):
    df = spark.range(0, 10).withColumnRenamed("id", "u")
    with pytest.raises(ValueError):
        kmv_distinct_estimate(df, "u", k=1)


def test_plan_uses_topk_not_global_sort(spark):
    df = spark.range(0, 10_000).withColumnRenamed("id", "u")
    plan = (
        kmv_distinct_estimate(df, "u", k=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_cms_estimate_upper_bounds_truth(spark):
    """CMS never undercounts; with w >> keys the fixed constants give no
    collisions and the estimate is exact (deterministic — seeded params)."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import cms_counters, cms_estimate
    from goffish_v3_spark.operators.text import polyhash

    rows = [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 1
    df = spark.createDataFrame(rows, "token string")
    key = polyhash(F.col("token"))
    counters = cms_counters(df, key, d=3, w=4096)
    top = df.groupBy("token").agg(F.count("*").alias("n_true"))
    got = {r.token: (r.n_true, r.n_est)
           for r in cms_estimate(counters, top, key, d=3, w=4096).collect()}
    assert got == {"a": (5, 5), "b": (3, 3), "c": (1, 1)}


def test_cms_total_collision_at_w1(spark):
    """w=1 forces every key into one cell: every estimate equals the total
    occurrence count — the degenerate upper bound, still never below truth."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import cms_counters, cms_estimate
    from goffish_v3_spark.operators.text import polyhash

    rows = [("a",)] * 5 + [("b",)] * 3
    df = spark.createDataFrame(rows, "token string")
    key = polyhash(F.col("token"))
    counters = cms_counters(df, key, d=2, w=1)
    top = df.groupBy("token").agg(F.count("*").alias("n_true"))
    est = cms_estimate(counters, top, key, d=2, w=1).collect()
    assert all(r.n_est == 8 for r in est)


def test_cms_counter_state_is_bounded_and_conservative(spark):
    """Counter table ≤ d·w cells and each row's cells sum to exactly the
    number of occurrences (mass conservation — mergeable by addition)."""
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import cms_counters
    from goffish_v3_spark.operators.text import polyhash

    rows = [(f"t{i % 17}",) for i in range(200)]
    df = spark.createDataFrame(rows, "token string")
    counters = cms_counters(df, polyhash(F.col("token")), d=3, w=8)
    c = counters.collect()
    assert len(c) <= 3 * 8
    per_row = {}
    for r in c:
        per_row[r.row] = per_row.get(r.row, 0) + r.cnt
    assert per_row == {0: 200, 1: 200, 2: 200}


def test_cms_validation(spark):
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import cms_counters
    from goffish_v3_spark.operators.text import polyhash

    df = spark.createDataFrame([("a",)], "token string")
    with pytest.raises(ValueError, match="d and w"):
        cms_counters(df, polyhash(F.col("token")), d=0, w=8)


def test_hll_estimate_within_error_bounds(spark):
    # 20k distinct keys, m=64 -> RSE ~ 1.04/sqrt(64) ≈ 13%; allow 2 sigma
    from goffish_v3_spark.operators.sketch import hll_distinct_estimate

    df = spark.range(0, 20_000).withColumnRenamed("id", "u")
    row = hll_distinct_estimate(df, "u", m_bits=6).first()
    assert row.m == 64
    assert abs(row.est_hll - 20_000) / 20_000 < 0.26


def test_hll_duplicates_do_not_move_the_estimate(spark):
    # register = MAX over keys -> idempotent under re-insertion (retry-safe)
    from goffish_v3_spark.operators.sketch import hll_distinct_estimate

    base = spark.range(0, 5_000).withColumnRenamed("id", "u")
    a = hll_distinct_estimate(base, "u").first()
    b = hll_distinct_estimate(base.union(base).union(base), "u").first()
    assert (a.sum_inv, a.est_hll) == (b.sum_inv, b.est_hll)


def test_hll_registers_merge_by_cellwise_max(spark):
    # sketch(A ∪ B) == cellwise max of sketch(A), sketch(B) — the property
    # that makes HLL state safe to merge across partitions/retries
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import hll_registers

    a = spark.range(0, 3_000).withColumnRenamed("id", "u")
    b = spark.range(2_000, 7_000).withColumnRenamed("id", "u")
    merged = {
        r.bucket: r.register
        for r in hll_registers(a.union(b), "u").collect()
    }
    ra = {r.bucket: r.register for r in hll_registers(a, "u").collect()}
    rb = {r.bucket: r.register for r in hll_registers(b, "u").collect()}
    cellwise = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert merged == cellwise


def test_hll_matches_duckdb_twin(spark):
    import duckdb as _duckdb

    from goffish_v3_spark.operators.sketch import hll_distinct_estimate, hll_sql

    df = spark.range(0, 3_000).withColumnRenamed("id", "u")
    got = hll_distinct_estimate(df, "u", m_bits=5, seed=7).first()
    exp = _duckdb.connect().execute(
        hll_sql("(SELECT UNNEST(RANGE(0, 3000)) AS u)", "u", m_bits=5, seed=7)
    ).fetchone()
    assert (got.m, got.n_zero_registers, got.sum_inv, got.est_hll) == exp


def test_hll_rejects_degenerate_m_bits(spark):
    from goffish_v3_spark.operators.sketch import hll_distinct_estimate

    df = spark.range(0, 10).withColumnRenamed("id", "u")
    for bad in (0, 13):
        with pytest.raises(ValueError):
            hll_distinct_estimate(df, "u", m_bits=bad)


def test_hll_group_matches_global_per_group(spark):
    # grouped HLL over a single group value == ungrouped HLL on that slice
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import (
        hll_distinct_estimate,
        hll_group_distinct,
    )

    df = spark.range(0, 4_000).select(
        (F.col("id") % 3).alias("g"), (F.col("id") * 7).alias("u")
    )
    got = {
        r.g: (r.n_zero_registers, r.sum_inv, r.est_hll)
        for r in hll_group_distinct(df, ["g"], "u", m_bits=5).collect()
    }
    assert set(got) == {0, 1, 2}
    for g in (0, 1, 2):
        ref = hll_distinct_estimate(
            df.filter(F.col("g") == g), "u", m_bits=5
        ).first()
        assert got[g] == (ref.n_zero_registers, ref.sum_inv, ref.est_hll)


def test_hll_group_matches_duckdb_twin(spark):
    import duckdb as _duckdb
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import hll_group_distinct, hll_group_sql

    df = spark.range(0, 2_000).select(
        (F.col("id") % 4).alias("g"), (F.col("id") * 11 + 5).alias("u")
    )
    got = {
        r.g: (r.n_zero_registers, r.sum_inv, r.est_hll)
        for r in hll_group_distinct(df, ["g"], "u", m_bits=4, seed=3).collect()
    }
    sql = hll_group_sql(
        "(SELECT id % 4 AS g0, id * 11 + 5 AS u "
        "FROM (SELECT UNNEST(RANGE(0, 2000)) AS id))",
        ["g0 AS g"],
        "u",
        m_bits=4,
        seed=3,
    )
    exp = {
        row[0]: (row[1], row[2], row[3])
        for row in _duckdb.connect().execute(sql).fetchall()
    }
    assert got == exp


def test_hll_group_requires_groups(spark):
    from goffish_v3_spark.operators.sketch import hll_group_distinct, hll_group_sql

    df = spark.range(0, 10).withColumnRenamed("id", "u")
    with pytest.raises(ValueError, match="group"):
        hll_group_distinct(df, [], "u")
    with pytest.raises(ValueError, match="group"):
        hll_group_sql("t", [], "u")


def test_kmv_set_relations_exhaustive_is_exact(spark):
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import kmv_set_relations

    a = spark.range(0, 30).select((F.col("id") * 2).alias("u"))  # evens 0..58
    b = spark.range(0, 30).select((F.col("id") * 3).alias("v"))  # 0,3..87
    r = kmv_set_relations(a, "u", b, "v", k=256).first()
    union = {i * 2 for i in range(30)} | {i * 3 for i in range(30)}
    inter = {i * 2 for i in range(30)} & {i * 3 for i in range(30)}
    assert r.n_union_hashes == len(union)
    assert r.est_union == float(len(union))
    assert r.n_both == len(inter)
    assert r.est_intersection == round(len(inter), 4)
    assert r.jaccard_kmv == round(len(inter) / len(union), 4)


def test_kmv_set_relations_sketched_reasonable(spark):
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import kmv_set_relations

    a = spark.range(0, 5_000).select(F.col("id").alias("u"))
    b = spark.range(2_500, 7_500).select(F.col("id").alias("u"))
    r = kmv_set_relations(a, "u", b, "u", k=128).first()
    assert r.n_union_hashes == 128  # sketched, not exhaustive
    assert 0.5 * 7_500 < r.est_union < 1.5 * 7_500
    assert 0.4 * 2_500 < r.est_intersection < 1.9 * 2_500


def test_kmv_set_relations_matches_duckdb_twin(spark):
    import duckdb as _duckdb
    from pyspark.sql import functions as F

    from goffish_v3_spark.operators.sketch import kmv_set_relations, kmv_set_sql

    a = spark.range(0, 900).select((F.col("id") * 7 + 1).alias("u"))
    b = spark.range(0, 900).select((F.col("id") * 5 + 1).alias("v"))
    got = kmv_set_relations(a, "u", b, "v", k=64, seed=2).first()
    sql = kmv_set_sql(
        "(SELECT UNNEST(RANGE(0, 900)) * 7 + 1 AS u)",
        "u",
        "(SELECT UNNEST(RANGE(0, 900)) * 5 + 1 AS v)",
        "v",
        k=64,
        seed=2,
    )
    exp = _duckdb.connect().execute(sql).fetchone()
    assert tuple(got) == exp


def test_kmv_set_relations_rejects_bad_k(spark):
    from goffish_v3_spark.operators.sketch import kmv_set_relations

    df = spark.range(0, 10).withColumnRenamed("id", "u")
    with pytest.raises(ValueError):
        kmv_set_relations(df, "u", df, "u", k=1)


def test_sketches_reject_string_keys(spark):
    from goffish_v3_spark.operators.bloom import bloom_bits, bloom_prefilter
    from goffish_v3_spark.operators.sketch import (
        hll_distinct_estimate,
        hll_group_distinct,
        kmv_distinct_estimate,
        kmv_set_relations,
    )

    sdf = spark.createDataFrame([("a", 1)], "u string, g long")
    ldf = spark.range(0, 5).withColumnRenamed("id", "u")
    for fn in (
        lambda: kmv_distinct_estimate(sdf, "u"),
        lambda: kmv_set_relations(sdf, "u", ldf, "u"),
        lambda: kmv_set_relations(ldf, "u", sdf, "u"),
        lambda: hll_distinct_estimate(sdf, "u"),
        lambda: hll_group_distinct(sdf, ["g"], "u"),
        lambda: bloom_bits(sdf, "u"),
        lambda: bloom_prefilter(sdf, "u", ldf.toDF("pos")),
    ):
        with pytest.raises(TypeError, match="integral"):
            fn()


def test_sketches_accept_scale_zero_decimal_keys(spark):
    """decimal(p,0) ids with p <= 18 cast to long exactly, so the sketch is
    the one of the same ids as longs; a fractional or too-wide decimal is
    refused."""
    from goffish_v3_spark.operators.sketch import kmv_distinct_estimate

    longs = spark.range(0, 200).withColumnRenamed("id", "u")
    decs = longs.select(longs.u.cast("decimal(18,0)").alias("u"))
    assert kmv_distinct_estimate(decs, "u", k=16).collect() == (
        kmv_distinct_estimate(longs, "u", k=16).collect()
    )
    for t in ("decimal(10,2)", "decimal(19,0)"):
        bad = longs.select(longs.u.cast(t).alias("u"))
        with pytest.raises(TypeError, match=r"'u' is decimal"):
            kmv_distinct_estimate(bad, "u")


def test_sketches_name_a_missing_key_column(spark):
    """A missing column or an expression string is a TypeError naming it,
    not a bare KeyError from the schema lookup."""
    from goffish_v3_spark.operators.sketch import hll_distinct_estimate

    df = spark.range(0, 5).withColumnRenamed("id", "u")
    for key in ("v", "u + 1"):
        with pytest.raises(TypeError, match=re.escape(f"{key!r} is not a column")):
            hll_distinct_estimate(df, key)
