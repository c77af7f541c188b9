"""Deterministic synthetic ``repos`` table generator.

Produces the engine's primary input per BASELINE.json ``input_hint``:
``repos(repo string, path string, commit string, lang string, content string)``
— an Iceberg/Parquet table of source-code repositories whose file contents
embed import/include lines referencing other files. Shapes follow
FIXTURES.md §1.

Everything is generated *distributively* with built-in column expressions over
``spark.range`` — no driver-side loops, no Python UDFs — so the same code
generates 3 repos for a unit test or 10^12 files on a cluster; output is a
pure function of (n_repos, files_per_repo, seed).

Link structure (drives the graph fixtures):
- every file imports ``imports_per_file`` other files of its own repo at
  deterministic stride offsets (ring-ish topology, strongly connected per repo);
- every file imports its repo's ``mod_0`` (per-repo hub — in-degree ≈
  files_per_repo, the skew test case, cf. FIXTURES.md ``star_hub``);
- every third file declares a cross-repo dep on repo 0's ``mod_0`` (a global
  hub, the "stdlib imported by millions" skew case from SURVEY.md §7.3);
- every fifth file declares a cross-repo dep on the next repo (bridges, so the
  whole graph is one weak component unless n_repos==1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_PKGS = 4
LANGS = ["python", "java", "c"]
EXTS = {"python": "py", "java": "java", "c": "h"}


def _ext_for(lang_col):
    return (
        F.when(lang_col == "python", F.lit("py"))
        .when(lang_col == "java", F.lit("java"))
        .otherwise(F.lit("h"))
    )


def _path_expr(file_idx, ext):
    """path = src/pkg_{file_idx % N_PKGS}/mod_{file_idx}.{ext}"""
    return F.format_string(
        "src/pkg_%d/mod_%d.%s", F.pmod(file_idx, F.lit(N_PKGS)), file_idx, ext
    )


def _import_line(lang_col, t):
    """Language-correct import line referencing same-repo target index ``t``.

    Mirrors the edge-derivation contract of FIXTURES.md §1:
    python ``from pkg_a.mod_3 import x`` / java ``import org.pkg_a.mod_3;`` /
    c ``#include "pkg_a/mod_3.h"``.
    """
    pkg = F.pmod(t, F.lit(N_PKGS))
    return (
        F.when(lang_col == "python", F.format_string("from pkg_%d.mod_%d import sym_%d", pkg, t, t))
        .when(lang_col == "java", F.format_string("import org.pkg_%d.mod_%d;", pkg, t))
        .otherwise(F.format_string('#include "pkg_%d/mod_%d.h"', pkg, t))
    )


def generate_skewed_edges(
    spark: SparkSession,
    n_edges: int = 10_000_000,
    n_vertices: int = 1_000_000,
    seed: int = 11,
) -> DataFrame:
    """Zipf-skewed-degree undirected-ish edge fixture for the triangle
    wedge-join probe (VERDICT r4 #9): src drawn Zipf(s≈1) via the inverse
    CDF ``rank = floor((n+1)^u) - 1`` (rank 0 collects ~ln2/ln(n+1) of all
    edges — ~5% at n=10^6, a ~500k-degree hub at the default size), dst
    uniform. Ranks are scattered over id space by an affine bijection that
    lands rank 0 MID-RANGE (vid ≈ n/2): under id-ordered wedge orientation
    a mid-id hub splits its neighbors across both sides and contributes
    ~(d/2)² wedges — the adversarial case the degree-orientation guard in
    :mod:`operators.triangles` must catch. Deterministic in all args; pure
    column expressions over ``spark.range`` (no driver loops, no UDFs)."""
    m31 = 2147483647  # 2^31 - 1
    # pmod the row id into [0, m31) BEFORE multiplying so id × multiplier
    # never overflows LongType at any n_edges (2^31 × 2.7e9 < 2^63)
    rid = F.pmod(F.col("id"), F.lit(m31))
    u1 = F.pmod(rid * F.lit(2654435761) + F.lit(seed), F.lit(m31)) / F.lit(float(m31))
    rank = F.least(
        F.floor(F.pow(F.lit(float(n_vertices + 1)), u1)) - 1,
        F.lit(n_vertices - 1),
    )
    # affine bijection over Z_n (48271 coprime to any n not divisible by it):
    # rank 0 → n/2, heavy ranks scattered across id space
    src = F.pmod(rank * F.lit(48271) + F.lit(n_vertices // 2), F.lit(n_vertices))
    dst = F.pmod(rid * F.lit(1866245627) + F.lit(seed * 7 + 1), F.lit(n_vertices))
    return (
        spark.range(0, n_edges)
        .select(src.cast("long").alias("src"), dst.cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def generate_repos(
    spark: SparkSession,
    n_repos: int = 3,
    files_per_repo: int = 20,
    imports_per_file: int = 4,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build the repos table. Deterministic in all arguments."""
    n = n_repos * files_per_repo
    rng = spark.range(0, n, 1, num_partitions or max(1, min(n // 10_000 + 1, 1024)))

    repo_idx = (F.col("id") / files_per_repo).cast("long")
    file_idx = F.pmod(F.col("id"), F.lit(files_per_repo))

    df = rng.select(
        repo_idx.alias("repo_idx"),
        file_idx.alias("file_idx"),
        F.format_string("org/project-%04d", repo_idx).alias("repo"),
        F.element_at(F.array(*[F.lit(l) for l in LANGS]), (F.pmod(repo_idx, F.lit(3)) + 1).cast("int")).alias("lang"),
    )
    ext = _ext_for(F.col("lang"))
    df = df.withColumn("path", _path_expr(F.col("file_idx"), ext))

    # per-repo commit id: 40-hex prefix of sha256(repo || seed)
    df = df.withColumn(
        "commit", F.substring(F.sha2(F.concat_ws("#", F.col("repo"), F.lit(str(seed))), 256), 1, 40)
    )

    # same-repo import targets: hub mod_0 + strided ring neighbours, de-duped,
    # self-imports filtered out
    tgt = F.array_distinct(
        F.concat(
            F.array(F.lit(0).cast("long")),
            F.transform(
                F.sequence(F.lit(1), F.lit(imports_per_file)),
                lambda j: F.pmod(
                    F.col("file_idx") + j * 7 + F.lit(seed % 5), F.lit(files_per_repo)
                ),
            ),
        )
    )
    df = df.withColumn("targets", F.filter(tgt, lambda t: t != F.col("file_idx")))

    import_lines = F.concat_ws(
        "\n", F.transform(F.col("targets"), lambda t: _import_line(F.col("lang"), t))
    )

    # cross-repo dep lines: "#dep <repo> <path>" (uniform marker, FIXTURES.md §1)
    next_repo_idx = F.pmod(F.col("repo_idx") + 1, F.lit(n_repos))
    next_repo = F.format_string("org/project-%04d", next_repo_idx)
    next_lang = F.element_at(
        F.array(*[F.lit(l) for l in LANGS]), (F.pmod(next_repo_idx, F.lit(3)) + 1).cast("int")
    )
    next_path = _path_expr(F.pmod(F.col("file_idx"), F.lit(files_per_repo)), _ext_for(next_lang))
    repo0 = F.format_string("org/project-%04d", F.lit(0).cast("long"))
    repo0_lang = F.lit(LANGS[0])
    repo0_path = _path_expr(F.lit(0).cast("long"), _ext_for(repo0_lang))

    dep_lines = F.concat_ws(
        "\n",
        F.when(
            (F.pmod(F.col("file_idx"), F.lit(5)) == 0) & (F.lit(n_repos) > 1),
            F.format_string("#dep %s %s", next_repo, next_path),
        ),
        F.when(
            (F.pmod(F.col("file_idx"), F.lit(3)) == 0)
            & (F.col("repo_idx") != 0)
            & (F.lit(n_repos) > 1),
            F.format_string("#dep %s %s", repo0, repo0_path),
        ),
    )

    # deterministic filler so content has realistic bulk and unique sha256
    filler = F.concat_ws(
        "\n",
        F.format_string("// module %s of %s", F.col("path"), F.col("repo")),
        F.transform(
            F.sequence(F.lit(0), F.lit(2)),
            lambda i: F.concat(
                F.lit("// "),
                F.sha2(F.concat_ws(":", F.col("repo"), F.col("path"), i, F.lit(str(seed))), 256),
            ),
        ).cast("array<string>").getItem(0),
        F.when(F.col("lang") == "python", F.format_string("def fn_%d():\n    return %d", F.col("file_idx"), F.col("file_idx")))
        .when(F.col("lang") == "java", F.format_string("public class Mod%d { int v = %d; }", F.col("file_idx"), F.col("file_idx")))
        .otherwise(F.format_string("static int v_%d = %d;", F.col("file_idx"), F.col("file_idx"))),
    )

    content = F.concat_ws("\n", import_lines, dep_lines, filler)
    return df.select(
        "repo", "path", "commit", "lang", content.alias("content")
    )
