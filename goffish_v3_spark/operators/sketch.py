"""Deterministic cardinality sketch: k-minimum-values (KMV).

``approx_count_distinct`` (HyperLogLog++) is the usual tool, but its
register layout is engine-private — no other system can verify or merge
its state. KMV (Bar-Yossef et al. 2002) is the auditable alternative: hash
every key with a deterministic mixer, keep the ``k`` smallest distinct
hashes, estimate ``n ≈ (k-1) · M / h_k`` where ``h_k`` is the k-th
smallest hash and ``M`` the hash range. Same O(k) state and mergeability
(union the sets, re-take k smallest), but every byte of it replays in
ANSI SQL — the DuckDB oracle recomputes the identical sketch.

Scale shape: one ``distinct`` shuffle on the hash, then a distributed
top-k (``ORDER BY h LIMIT k`` → TakeOrderedAndProject, per-partition heaps
+ a k-row driver merge — never a global sort). State is k longs no matter
how many billions of keys stream through.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from .sampling import MOD, bucket_sql, hash_bucket


def _check_integral_key(df: DataFrame, key_col: str, op: str) -> None:
    """Every sketch here mixes the key arithmetically; a silent
    cast("long") on a string column yields NULL hashes and a quietly
    wrong sketch. Raise loudly instead (map string keys to ids first,
    e.g. via xxhash64 — or polyhash for an oracle-replayable mapping).
    ``decimal(p, 0)`` with ``p <= 18`` passes: it casts to long exactly."""
    if key_col not in df.columns:
        raise TypeError(
            f"{op} needs the name of an integral key column; {key_col!r} is "
            f"not a column of the input (columns: {df.columns}) - select "
            "expressions into a named column first"
        )
    dt = df.schema[key_col].dataType
    if dt.typeName() in ("long", "integer", "short", "byte") or (
        isinstance(dt, DecimalType) and dt.scale == 0 and dt.precision <= 18
    ):
        return
    raise TypeError(
        f"{op} needs an integral key column (long/int/short/byte, or "
        f"decimal(p,0) with p <= 18); {key_col!r} is {dt.simpleString()} - "
        "map keys to ids first"
    )


def kmv_distinct_estimate(
    df: DataFrame, key_col: str, k: int = 64, seed: int = 0
) -> DataFrame:
    """One-row DataFrame ``(k, n_hashes, kth_hash, est_distinct)`` — the KMV
    estimate of ``count(distinct key_col)``.

    When fewer than ``k`` distinct hashes exist the sketch is exhaustive
    and the estimate is the exact count; otherwise ``(k-1)·MOD/h_k``. The
    mixer is :func:`..sampling.hash_bucket`, so the whole sketch — hashes,
    top-k, estimate — is bit-reproducible across engines (see
    :func:`kmv_sql` for the oracle twin).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    _check_integral_key(df, key_col, "kmv_distinct_estimate")
    hashes = (
        df.select(hash_bucket(key_col, seed).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )
    agg = hashes.agg(F.count("*").alias("n"), F.max("h").alias("kth"))
    return agg.select(
        F.lit(k).cast("long").alias("k"),
        F.col("n").cast("long").alias("n_hashes"),
        F.col("kth").cast("long").alias("kth_hash"),
        F.round(
            F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
                F.lit(float(k - 1)) * F.lit(float(MOD)) / F.col("kth")
            ),
            4,
        ).alias("est_distinct"),
    )


# ---------------------------------------------------------------------------
# Deterministic count-min sketch (Cormode & Muthukrishnan 2005): heavy-hitter
# frequency estimation with d·w bounded state. Same auditability stance as
# KMV — the d pairwise hash rows are affine maps with published constants
# over a polynomial key hash, so the ENTIRE counter table and every estimate
# replay in ANSI SQL. Guarantees: est ≥ true always (counters only ever
# overcount); est ≤ true + εN with prob 1−δ for w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉.
# Scale shape: one explode(d) + groupBy(row, bucket) with map-side combine —
# state is d·w longs no matter how many billions of occurrences stream
# through, and counter tables merge by cell-wise addition.

CMS_P = 1_000_000_007  # matches text.polyhash's modulus (key range)
_CMS_MIX = 0x9E3779B97F4A7C15
_MASK31 = (1 << 31) - 1


def cms_params(d: int, seed: int = 0) -> list[tuple[int, int, int]]:
    """``[(row, a, b), …]`` — the d affine hash rows, deterministic in
    (d, seed) so Spark and the SQL twin inline identical constants."""
    out = []
    for i in range(d):
        a = (_CMS_MIX * (2 * (i + seed) + 1)) % _MASK31 or 1
        b = (_CMS_MIX * (i + seed + 3) + 17) % _MASK31
        out.append((i, a, b))
    return out


def _cms_bucket(x, a_arr, b_arr, w: int):
    """bucket_row(x) = ((x·a_row + b_row) mod P) mod w — x < P < 2^30 and
    a < 2^31 keep the product inside long range."""
    a = F.element_at(a_arr, F.col("row") + 1)
    b = F.element_at(b_arr, F.col("row") + 1)
    return ((x * a + b) % CMS_P) % w


def cms_counters(
    df: DataFrame, key_expr, d: int = 3, w: int = 512, seed: int = 0
) -> DataFrame:
    """``(row int, bucket long, cnt long)`` — count-min counters over every
    input row. ``key_expr``: a long Column in [0, CMS_P), e.g.
    ``text.polyhash(F.col("token"))``. One scan: each occurrence explodes
    into its d (row, bucket) cells, then a map-side-combined groupBy."""
    if d < 1 or w < 1:
        raise ValueError(f"d and w must be >= 1, got d={d}, w={w}")
    params = cms_params(d, seed)
    a_arr = F.array(*[F.lit(a) for _, a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, _, b in params])
    return (
        df.select(key_expr.alias("x"))
        .withColumn("row", F.explode(F.array(*[F.lit(i) for i in range(d)])))
        .withColumn("bucket", _cms_bucket(F.col("x"), a_arr, b_arr, w))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame,
    queries: DataFrame,
    key_expr,
    d: int = 3,
    w: int = 512,
    seed: int = 0,
) -> DataFrame:
    """Append ``n_est = min over rows of counter[row][bucket_row(key)]`` to
    ``queries`` (all its columns pass through). (d, w, seed) must match the
    ``cms_counters`` build; a key that was inserted at least once hits a
    populated cell in every row, so the inner join is lossless for real
    heavy-hitter queries."""
    params = cms_params(d, seed)
    a_arr = F.array(*[F.lit(a) for _, a, _ in params])
    b_arr = F.array(*[F.lit(b) for _, _, b in params])
    out_cols = list(queries.columns)
    q = (
        queries.withColumn("x", key_expr)
        .withColumn("row", F.explode(F.array(*[F.lit(i) for i in range(d)])))
        .withColumn("bucket", _cms_bucket(F.col("x"), a_arr, b_arr, w))
    )
    return (
        q.join(F.broadcast(counters) if d * w <= 1 << 20 else counters,
               ["row", "bucket"])
        .groupBy(*out_cols)
        .agg(F.min("cnt").alias("n_est"))
    )


def kmv_sql(table: str, key_expr: str, k: int = 64, seed: int = 0) -> str:
    """ANSI-SQL twin of :func:`kmv_distinct_estimate` — same mixer, same
    top-k, same estimator, for the DuckDB oracle gate."""
    return f"""
WITH b AS (SELECT DISTINCT {bucket_sql(key_expr, seed=seed)} AS h FROM {table}),
t AS (SELECT h FROM b ORDER BY h LIMIT {k})
SELECT CAST({k} AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_hashes,
       CAST(max(h) AS BIGINT) AS kth_hash,
       round(CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
             ELSE {float(k - 1)} * {float(MOD)} / max(h) END, 4) AS est_distinct
FROM t
"""


# ---------------------------------------------------------------------------
# Deterministic HyperLogLog (Flajolet et al. 2007): the third sketch in the
# auditable trio (KMV = cardinality via order statistics, CMS = frequency,
# HLL = cardinality via register maxima). Spark's approx_count_distinct IS
# HLL++, but its register layout is engine-private; this one is built from
# the published algorithm over a deterministic nonlinear mixer (below), so
# the FULL register state and the estimate replay in ANSI SQL.
#
# Scale shape: one groupBy(bucket).max(rank) with map-side combine — state
# is m small ints no matter how many billions of keys stream through, and
# register tables merge by cell-wise MAX (commutative, idempotent: safe
# under retries and cross-partition unions).
#
# Parity note: the estimate avoids every transcendental. alpha_m·m^2 is
# inlined as ONE Python-float literal on both engines; 2^-register terms are
# exact powers of two built by integer shift (never pow()); their sum spans
# < 53 bits so it is EXACT regardless of addition order; the closing divide
# is a single correctly-rounded IEEE op. (ln() differs between JVM and
# libm by 1 ulp on ~2% of inputs — measured — so the small-range linear-
# counting correction E = m·ln(m/V) is intentionally NOT folded in; the
# zero-register count V is exposed so callers can apply it driver-side.)
#
# Mixer note: sampling/KMV's hash_bucket is two composed LCG rounds — an
# AFFINE map mod 1e9+7. Order statistics (KMV, sampling thresholds) are fine
# with an equidistributed affine image, but HLL reads leading-zero patterns,
# and an arithmetic progression mod M has pathological ones (measured: up to
# ~114% error on sequential keys). HLL therefore gets its own NONLINEAR
# xor-shift-multiply mixer in 31-bit modular arithmetic: every product is
# < 2^62 (no BIGINT overflow on either engine — DuckDB raises on wrap, so
# wraparound 64-bit mixes like splitmix64 are NOT replayable there), and
# xor/shift/% all exist on both engines with identical integer semantics.

_HLL_MAX_M_BITS = 12  # keep >= 19 bits of rank material under the 31-bit mix
_HLL_M31 = 1 << 31
_HLL_MUL1 = 0x45D9F3B  # degski/Wang 32-bit mix multipliers, < 2^31
_HLL_MUL2 = 0x119DE1F3


def _hll_geometry(m_bits: int) -> tuple[int, int]:
    """(m, R) — register count and rank-material bit width. The nonlinear
    mixer yields 31 uniform bits; the bucket takes the low m_bits and the
    rest holds R = 31 - m_bits clean bits; ranks lie in [1, R+1]."""
    if not 1 <= m_bits <= _HLL_MAX_M_BITS:
        raise ValueError(f"m_bits must be in [1, {_HLL_MAX_M_BITS}], got {m_bits}")
    return 1 << m_bits, 31 - m_bits


def _hll_seed_const(seed: int) -> int:
    """Per-seed xor constant folded into the first mix round."""
    return (0x9E3779B9 * (int(seed) + 1) + 0x85EBCA6B) % _HLL_M31


def _hll_mix_steps(seed: int) -> list[str]:
    """The mix pipeline as SQL expression templates over a column named
    ``h`` — ONE source of truth rendered into both the Spark plan
    (sequential selects) and the DuckDB twin (chained CTEs), so the
    arithmetic cannot drift between engines. ``{xor}`` is the only dialect
    difference (Spark ``^`` is bitwise xor; DuckDB's is power)."""
    return [
        f"{{xor(h, {_hll_seed_const(seed)})}}",
        "{xor(h, h >> 16)}",
        f"(h * {_HLL_MUL1}) % {_HLL_M31}",
        "{xor(h, h >> 13)}",
        f"(h * {_HLL_MUL2}) % {_HLL_M31}",
        "{xor(h, h >> 16)}",
    ]


def _render_mix(step: str, dialect: str) -> str:
    """Render one mix step template for a dialect (see _hll_mix_steps)."""
    if "{xor(" not in step:
        return step
    inner = step[step.index("{xor(") + 5 : step.rindex(")}")]
    a, b = inner.split(", ", 1)
    return f"xor({a}, {b})" if dialect == "duckdb" else f"({a} ^ {b})"


def hll_alpha_mm(m_bits: int) -> float:
    """The alpha_m·m² bias-correction constant, computed ONCE in Python and
    inlined as the same float literal into both the Spark plan and the SQL
    twin (no per-engine float derivation to drift)."""
    m, _ = _hll_geometry(m_bits)
    if m >= 128:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    else:
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))
    return alpha * m * m


def hll_registers(
    df: DataFrame, key_col: str, m_bits: int = 6, seed: int = 0
) -> DataFrame:
    """``(bucket long, register int)`` — the HLL register table: for each of
    the m = 2^m_bits buckets, the max over keys of (leading-zero count of
    the post-bucket hash bits) + 1. Buckets no key hashed into are absent
    (they read as register 0; see :func:`hll_distinct_estimate`).

    rank = R - bitlen(rest) + 1 via the binary-string length (``bin()`` on
    both engines — exact integer semantics, no log2 float round-trip).
    """
    _check_integral_key(df, key_col, "hll_registers")
    m, r_bits = _hll_geometry(m_bits)
    d = df.select(
        F.pmod(F.col(key_col).cast("long"), F.lit(_HLL_M31)).alias("h")
    )
    for step in _hll_mix_steps(seed):
        d = d.select(F.expr(f"CAST({_render_mix(step, 'spark')} AS BIGINT) AS h"))
    rest = F.expr(f"h DIV {m}")
    bitlen = F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)))
    return (
        d.select(
            (F.col("h") % m).alias("bucket"),
            (F.lit(r_bits + 1) - bitlen).cast("int").alias("rank"),
        )
        .groupBy("bucket")
        .agg(F.max("rank").alias("register"))
    )


def hll_distinct_estimate(
    df: DataFrame, key_col: str, m_bits: int = 6, seed: int = 0
) -> DataFrame:
    """One-row ``(m, n_zero_registers, sum_inv, est_hll)`` — the raw HLL
    cardinality estimate alpha_m·m² / Σ 2^(-M_j), with empty registers
    contributing 2^0 = 1 each. ``n_zero_registers`` (V) is exposed for the
    caller's small-range linear-counting correction (see parity note above
    for why m·ln(m/V) is not computed in-plan)."""
    m, _ = _hll_geometry(m_bits)
    regs = hll_registers(df, key_col, m_bits, seed)
    inv = F.lit(1.0) / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), register) AS DOUBLE)")
    agg = regs.agg(
        F.count("*").alias("n_nonzero"), F.sum(inv).alias("sum_seen")
    )
    sum_inv = (F.lit(m) - F.col("n_nonzero")).cast("double") + F.col("sum_seen")
    return agg.select(
        F.lit(m).cast("long").alias("m"),
        (F.lit(m) - F.col("n_nonzero")).cast("long").alias("n_zero_registers"),
        sum_inv.alias("sum_inv"),
        F.round(F.lit(hll_alpha_mm(m_bits)) / sum_inv, 4).alias("est_hll"),
    )


def hll_sql(table: str, key_expr: str, m_bits: int = 6, seed: int = 0) -> str:
    """ANSI-SQL twin of :func:`hll_distinct_estimate` — identical mixer,
    bucket split, bin()-length ranks, shift-built 2^-M terms, and the SAME
    inlined alpha_m·m² literal, for the DuckDB oracle gate."""
    m, r_bits = _hll_geometry(m_bits)
    ctes = [f"m0 AS (SELECT ((({key_expr}) % {_HLL_M31} + {_HLL_M31}) % {_HLL_M31}) AS h FROM {table})"]
    for i, step in enumerate(_hll_mix_steps(seed)):
        ctes.append(
            f"m{i + 1} AS (SELECT CAST({_render_mix(step, 'duckdb')} AS BIGINT) AS h FROM m{i})"
        )
    mix = ",\n".join(ctes)
    return f"""
WITH {mix},
h AS (SELECT h FROM m{len(ctes) - 1}),
r AS (
  SELECT h % {m} AS bucket,
         CAST({r_bits + 1} - CASE WHEN h // {m} = 0 THEN 0
              ELSE length(bin(h // {m})) END AS INT) AS rank
  FROM h
),
regs AS (SELECT bucket, max(rank) AS register FROM r GROUP BY bucket),
a AS (
  SELECT count(*) AS n_nonzero,
         sum(1.0 / CAST(CAST(1 AS BIGINT) << register AS DOUBLE)) AS sum_seen
  FROM regs
)
SELECT CAST({m} AS BIGINT) AS m,
       CAST({m} - n_nonzero AS BIGINT) AS n_zero_registers,
       CAST({m} - n_nonzero AS DOUBLE) + sum_seen AS sum_inv,
       round({hll_alpha_mm(m_bits)!r} / (CAST({m} - n_nonzero AS DOUBLE) + sum_seen), 4) AS est_hll
FROM a
"""


def hll_group_distinct(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    m_bits: int = 6,
    seed: int = 0,
) -> DataFrame:
    """``(*group_cols, n_zero_registers, sum_inv, est_hll)`` — one HLL
    cardinality estimate of ``count(distinct key_col)`` PER GROUP — the
    grouped form of :func:`hll_distinct_estimate` (distinct users per day,
    per partition, per language...). Same mixer, ranks, and
    transcendental-free estimate; state is m small ints per group, built
    by ONE ``groupBy(*groups, bucket).max`` with map-side combine — the
    sketch never holds the keys, so a group with a billion distinct keys
    costs the same m ints as a group with ten.
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty; use hll_distinct_estimate")
    _check_integral_key(df, key_col, "hll_group_distinct")
    m, r_bits = _hll_geometry(m_bits)
    d = df.select(
        *group_cols, F.pmod(F.col(key_col).cast("long"), F.lit(_HLL_M31)).alias("h")
    )
    for step in _hll_mix_steps(seed):
        d = d.select(
            *group_cols, F.expr(f"CAST({_render_mix(step, 'spark')} AS BIGINT) AS h")
        )
    rest = F.expr(f"h DIV {m}")
    bitlen = F.when(rest == 0, F.lit(0)).otherwise(F.length(F.bin(rest)))
    regs = (
        d.select(
            *group_cols,
            (F.col("h") % m).alias("bucket"),
            (F.lit(r_bits + 1) - bitlen).cast("int").alias("rank"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rank").alias("register"))
    )
    inv = F.lit(1.0) / F.expr("CAST(shiftleft(CAST(1 AS BIGINT), register) AS DOUBLE)")
    agg = regs.groupBy(*group_cols).agg(
        F.count("*").alias("n_nonzero"), F.sum(inv).alias("sum_seen")
    )
    sum_inv = (F.lit(m) - F.col("n_nonzero")).cast("double") + F.col("sum_seen")
    return agg.select(
        *group_cols,
        (F.lit(m) - F.col("n_nonzero")).cast("long").alias("n_zero_registers"),
        sum_inv.alias("sum_inv"),
        F.round(F.lit(hll_alpha_mm(m_bits)) / sum_inv, 4).alias("est_hll"),
    )


def hll_group_sql(
    table: str,
    group_exprs: list[str],
    key_expr: str,
    m_bits: int = 6,
    seed: int = 0,
) -> str:
    """ANSI-SQL twin of :func:`hll_group_distinct`. ``group_exprs`` are
    ``expr AS name`` pairs rendered into the first CTE; grouping below
    uses the names."""
    if not group_exprs:
        raise ValueError("group_exprs must be non-empty; use hll_sql")
    m, r_bits = _hll_geometry(m_bits)
    names = [g.split(" AS ")[-1].strip() for g in group_exprs]
    gsel = ", ".join(group_exprs)
    gcols = ", ".join(names)
    ctes = [
        f"m0 AS (SELECT {gsel}, ((({key_expr}) % {_HLL_M31} + {_HLL_M31})"
        f" % {_HLL_M31}) AS h FROM {table})"
    ]
    for i, step in enumerate(_hll_mix_steps(seed)):
        ctes.append(
            f"m{i + 1} AS (SELECT {gcols}, CAST({_render_mix(step, 'duckdb')} "
            f"AS BIGINT) AS h FROM m{i})"
        )
    mix = ",\n".join(ctes)
    return f"""
WITH {mix},
r AS (
  SELECT {gcols}, h % {m} AS bucket,
         CAST({r_bits + 1} - CASE WHEN h // {m} = 0 THEN 0
              ELSE length(bin(h // {m})) END AS INT) AS rank
  FROM m{len(ctes) - 1}
),
regs AS (SELECT {gcols}, bucket, max(rank) AS register
         FROM r GROUP BY {gcols}, bucket),
a AS (
  SELECT {gcols}, count(*) AS n_nonzero,
         sum(1.0 / CAST(CAST(1 AS BIGINT) << register AS DOUBLE)) AS sum_seen
  FROM regs GROUP BY {gcols}
)
SELECT {gcols},
       CAST({m} - n_nonzero AS BIGINT) AS n_zero_registers,
       CAST({m} - n_nonzero AS DOUBLE) + sum_seen AS sum_inv,
       round({hll_alpha_mm(m_bits)!r} / (CAST({m} - n_nonzero AS DOUBLE) + sum_seen), 4) AS est_hll
FROM a
"""


# ---------------------------------------------------------------------------
# KMV set algebra (Beyer et al. 2007): union / intersection / Jaccard
# estimates between two key sets from ONE merged order-statistic sketch.
# The union sketch is the k smallest distinct hashes of A ∪ B (KMV is
# closed under union — merge then re-take k smallest); within it, the
# fraction rho of hashes seen in BOTH inputs estimates Jaccard, and
# est_intersection = rho · est_union. When the union has < k distinct
# hashes the sketch is exhaustive and every figure is exact. All decisions
# are integer order statistics; the only doubles are the two closing
# round()ed expressions, shared shape-for-shape with the SQL twin.


def kmv_set_relations(
    df_a: DataFrame,
    key_a: str,
    df_b: DataFrame,
    key_b: str,
    k: int = 64,
    seed: int = 0,
) -> DataFrame:
    """One-row ``(k, n_union_hashes, kth_hash, n_both, est_union,
    est_intersection, jaccard_kmv)`` — KMV estimates of ``|A ∪ B|``,
    ``|A ∩ B|`` and Jaccard between ``df_a[key_a]`` and ``df_b[key_b]``.

    Scale shape: one distinct per side, one groupBy(h) merge with map-side
    combine, one distributed top-k — state is k longs however large the
    inputs; see :func:`kmv_set_sql` for the oracle twin."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    _check_integral_key(df_a, key_a, "kmv_set_relations")
    _check_integral_key(df_b, key_b, "kmv_set_relations")
    ha = df_a.select(
        hash_bucket(key_a, seed).alias("h"),
        F.lit(1).alias("in_a"),
        F.lit(0).alias("in_b"),
    ).distinct()
    hb = df_b.select(
        hash_bucket(key_b, seed).alias("h"),
        F.lit(0).alias("in_a"),
        F.lit(1).alias("in_b"),
    ).distinct()
    u = (
        ha.unionByName(hb)
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
        .orderBy("h")
        .limit(k)
    )
    s = u.agg(
        F.count("*").alias("n"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("both"),
    )
    est_u = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(MOD)) / F.col("kth")
    )
    rho = F.col("both").cast("double") / F.col("n")
    return s.select(
        F.lit(k).cast("long").alias("k"),
        F.col("n").cast("long").alias("n_union_hashes"),
        F.col("kth").cast("long").alias("kth_hash"),
        F.col("both").cast("long").alias("n_both"),
        F.round(est_u, 4).alias("est_union"),
        F.round(rho * est_u, 4).alias("est_intersection"),
        F.round(rho, 4).alias("jaccard_kmv"),
    )


def kmv_set_sql(
    table_a: str,
    key_a: str,
    table_b: str,
    key_b: str,
    k: int = 64,
    seed: int = 0,
) -> str:
    """ANSI-SQL twin of :func:`kmv_set_relations` — same mixer, same merged
    top-k, same estimator expressions, for the DuckDB oracle gate."""
    est_u = (
        f"CASE WHEN n < {k} THEN CAST(n AS DOUBLE) "
        f"ELSE {float(k - 1)} * {float(MOD)} / kth END"
    )
    return f"""
WITH a AS (SELECT DISTINCT {bucket_sql(key_a, seed=seed)} AS h FROM {table_a}),
b AS (SELECT DISTINCT {bucket_sql(key_b, seed=seed)} AS h FROM {table_b}),
m AS (SELECT h, 1 AS in_a, 0 AS in_b FROM a
      UNION ALL SELECT h, 0 AS in_a, 1 AS in_b FROM b),
u AS (SELECT h, max(in_a) AS in_a, max(in_b) AS in_b FROM m
      GROUP BY h ORDER BY h LIMIT {k}),
s AS (SELECT count(*) AS n, max(h) AS kth, sum(in_a * in_b) AS nb FROM u)
SELECT CAST({k} AS BIGINT) AS k,
       CAST(n AS BIGINT) AS n_union_hashes,
       CAST(kth AS BIGINT) AS kth_hash,
       CAST(nb AS BIGINT) AS n_both,
       round({est_u}, 4) AS est_union,
       round((CAST(nb AS DOUBLE) / n) * ({est_u}), 4) AS est_intersection,
       round(CAST(nb AS DOUBLE) / n, 4) AS jaccard_kmv
FROM s
"""
