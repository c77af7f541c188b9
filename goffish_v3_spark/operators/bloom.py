"""Deterministic Bloom filter for semi-join reduction.

The classic 100 TB join trick: the dim side of a selective join is
distilled into a bit table of ``m`` positions (a few KB), broadcast to
every executor, and the fact table is pre-filtered BEFORE its shuffle —
so the expensive exchange moves only rows that can possibly join. False
positives cost a few extra candidate rows (the real join still runs and
removes them); false negatives are impossible, so the final result is
bit-identical to the plain join. Spark's own runtime row-level filtering
does this opaquely; this one is auditable — the hash functions are the
published Kirsch–Mitzenmacher construction ``pos_i = (h1 + i·h2) mod m``
over the sketch module's nonlinear 31-bit mixer, so the ENTIRE bit table
and every membership verdict replay in ANSI SQL (see the *_sql twins).

Scale shape: building the filter is one ``distinct`` on the (small) dim
keys plus a narrow projection; the bit table is ≤ m rows regardless of
key count and joins broadcast. Membership testing is k chained broadcast
LEFT SEMI joins — no shuffle of the fact table at all; the only exchange
left in the plan is whatever the downstream real join needs, now over
the reduced row set.

Reference parity: the reference engine has no sketch surface; this is
part of the training-data-pipeline layer the brief adds beyond
reference coverage (SURVEY.md §2.D).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketch import _HLL_M31, _check_integral_key, _hll_mix_steps, _render_mix


def _check_params(m: int, k: int) -> None:
    if not 2 <= m <= _HLL_M31:
        raise ValueError(f"m must be in [2, 2^31], got {m}")
    if not 1 <= k <= 16:
        raise ValueError(f"k must be in [1, 16], got {k}")


def _mix_chain(df: DataFrame, var: str, seed: int, carry: list[str]) -> DataFrame:
    """Apply the sketch mixer's step pipeline to column ``var`` via
    sequential selects, carrying ``carry`` columns through untouched."""
    for step in _hll_mix_steps(seed):
        expr = re.sub(r"\bh\b", var, _render_mix(step, "spark"))
        df = df.select(*carry, F.expr(f"CAST({expr} AS BIGINT) AS {var}"))
    return df


def _with_h1_h2(df: DataFrame, key_col: str, seed: int, carry: list[str]) -> DataFrame:
    """Append ``h1``/``h2`` (two independent 31-bit mixes of ``key_col``)
    to each row, keeping ``carry`` columns. ``key_col`` must be carried so
    the second mix can restart from the raw key."""
    if key_col not in carry:
        raise ValueError("key_col must be in carry columns")
    h0 = F.pmod(F.col(key_col).cast("long"), F.lit(_HLL_M31))
    d = _mix_chain(df.select(*carry, h0.alias("h1")), "h1", seed, carry)
    d = d.select(*carry, "h1", h0.alias("h2"))
    return _mix_chain(d, "h2", seed + 1, carry + ["h1"])


def bloom_bits(
    df: DataFrame, key_col: str, m: int = 4096, k: int = 3, seed: int = 0
) -> DataFrame:
    """``(pos long)`` — the distinct set-bit positions of the Bloom filter
    over ``df[key_col]``. At most ``m`` rows no matter how many keys
    stream in; merge two filters built with the same parameters by
    ``union().distinct()``. Positions are Kirsch–Mitzenmacher double
    hashing: ``(h1 + i·h2) mod m`` for ``i in [0, k)`` — k positions from
    two mixer evaluations. The ``pos`` column's metadata carries ``{m, k,
    seed}`` so :func:`bloom_prefilter` can refuse a mismatch; the rows are
    unchanged by it."""
    _check_params(m, k)
    _check_integral_key(df, key_col, "bloom_bits")
    keys = df.select(F.col(key_col).alias("key")).distinct()
    d = _with_h1_h2(keys, "key", seed, ["key"])
    pos = (F.col("h1") + F.col("i") * F.col("h2")) % m
    return (
        d.withColumn("i", F.explode(F.array(*[F.lit(j) for j in range(k)])))
        .select(pos.alias("pos", metadata={"bloom": _tag(m, k, seed)}))
        .distinct()
    )


def _tag(m: int, k: int, seed: int) -> dict:
    return {"m": m, "k": k, "seed": seed}


def _check_bits_tag(bits: DataFrame, m: int, k: int, seed: int) -> None:
    """Positions only mean something under the (m, k, seed) that hashed
    them: probing with other parameters drops true rows (false negatives)
    with no error, so a bits table without :func:`bloom_bits`' tag, or with
    a different one, raises."""
    tag = bits.schema["pos"].metadata.get("bloom") if "pos" in bits.columns else None
    if tag is None:
        raise ValueError(
            "bits table carries no (m, k, seed) tag on its pos column; "
            "build it with bloom_bits"
        )
    if tag != _tag(m, k, seed):
        raise ValueError(
            f"bloom_prefilter(m={m}, k={k}, seed={seed}) does not match the "
            f"bits table, built with m={tag['m']}, k={tag['k']}, seed={tag['seed']}"
        )


def bloom_prefilter(
    fact: DataFrame,
    fact_key: str,
    bits: DataFrame,
    m: int = 4096,
    k: int = 3,
    seed: int = 0,
) -> DataFrame:
    """Rows of ``fact`` whose ``fact_key`` passes the Bloom filter — i.e.
    ALL k bit positions are set. Implemented as k chained **broadcast LEFT
    SEMI joins** against the (≤ m row) bit table: no shuffle, no groupBy,
    row multiplicity and schema preserved exactly. Supersets the true
    semi-join (false positives possible, false negatives impossible), so
    following it with the real join yields the plain-join result.
    ``m``, ``k`` and ``seed`` must be the ones ``bits`` was built with
    (:func:`bloom_bits`' tag), else this raises ``ValueError``."""
    _check_params(m, k)
    _check_integral_key(fact, fact_key, "bloom_prefilter")
    out_cols = list(fact.columns)
    if "h1" in out_cols or "h2" in out_cols:
        raise ValueError("fact must not already carry h1/h2 columns")
    _check_bits_tag(bits, m, k, seed)
    d = _with_h1_h2(fact, fact_key, seed, out_cols)
    for i in range(k):
        col = f"_pos{i}"
        pos_i = (F.col("h1") + F.lit(i) * F.col("h2")) % m
        d = (
            d.withColumn(col, pos_i)
            .join(F.broadcast(bits.withColumnRenamed("pos", col)), col, "left_semi")
            .drop(col)
        )
    return d.select(*out_cols)


def _h0_sql(key_expr: str) -> str:
    return f"((({key_expr}) % {_HLL_M31} + {_HLL_M31}) % {_HLL_M31})"


def _mix_ctes(src: str, var: str, seed: int, carry: str, start: int) -> tuple[str, int]:
    """Chained-CTE rendering of one mixer pipeline for the SQL twin."""
    ctes, prev = [], src
    for step in _hll_mix_steps(seed):
        expr = re.sub(r"\bh\b", var, _render_mix(step, "duckdb"))
        name = f"x{start + len(ctes)}"
        ctes.append(
            f"{name} AS (SELECT {carry}, CAST({expr} AS BIGINT) AS {var} FROM {prev})"
        )
        prev = name
    return ",\n".join(ctes), start + len(ctes)


def bloom_hashes_sql(table: str, key_expr: str, seed: int, start: int = 0) -> tuple[str, str]:
    """``(ctes, final_name)`` — CTE chain computing ``(key, h1, h2)`` for
    every row of ``table``; the exact SQL twin of :func:`_with_h1_h2`.
    ``start`` offsets CTE names so two chains can share one WITH clause."""
    base = f"b{start} AS (SELECT {key_expr} AS key, {_h0_sql(key_expr)} AS h1 FROM {table})"
    c1, nxt = _mix_ctes(f"b{start}", "h1", seed, "key", start)
    rebase = f"b{nxt} AS (SELECT key, h1, {_h0_sql('key')} AS h2 FROM x{nxt - 1})"
    c2, fin = _mix_ctes(f"b{nxt}", "h2", seed + 1, "key, h1", nxt)
    return ",\n".join([base, c1, rebase, c2]), f"x{fin - 1}"


def bloom_bits_sql(table: str, key_expr: str, m: int = 4096, k: int = 3, seed: int = 0) -> str:
    """Self-contained SELECT producing the :func:`bloom_bits` table —
    embed as a CTE body in a larger oracle query."""
    _check_params(m, k)
    hashes, fin = bloom_hashes_sql(f"(SELECT DISTINCT {key_expr} AS k0 FROM {table})", "k0", seed)
    ks = ", ".join(str(j) for j in range(k))
    return f"""
WITH {hashes},
e AS (SELECT h1, h2, UNNEST([{ks}]) AS i FROM {fin})
SELECT DISTINCT (h1 + i * h2) % {m} AS pos FROM e
"""
