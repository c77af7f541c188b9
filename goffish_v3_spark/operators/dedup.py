"""Deduplication operators for training-data pipelines.

Five strategies over the ``documents`` table, each a first-class operator:

- :func:`exact_duplicates` — hash-groupBy on sha256(text).
- :func:`minhash_lsh_pairs` — word-shingle → minhash signature → LSH banding
  → candidate pairs within a band bucket → exact Jaccard verify. The entire
  signature computation is built-in array expressions (xxhash64 inside
  ``transform``), so minhashing stays JVM-side; only the final verify joins
  token sets.
- :func:`simhash` — 64-bit simhash via an Arrow-batched pandas UDF (numpy
  bit-bucketing; a per-row Python loop would be 100× slower).
- :func:`ngram_jaccard_pairs` — exact n-gram Jaccard for candidate pairs.
- :func:`embedding_near_duplicates` — cosine-similarity near-dups over an
  ``array<float>`` embedding column (see operators.similarity).
- :func:`near_dup_clusters` / :func:`dedup_keep_canonical` — transitive
  clustering of any of the pair outputs above (connected components via
  operators.wcc) and keep-one-canonical-per-cluster.

Scale notes: LSH banding turns the O(n²) pair problem into groupBy(band,
bucket) + within-bucket self-join — the shuffle key is the band hash, which
is uniform by construction; exact-verify joins happen only on candidates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from goffish_v3_spark.operators.text import tokens

# deterministic mix constants for the minhash permutation family.
# Modulus is the Mersenne prime 2^31-1 so (a * h + b) stays < 2^62 — exact in
# a Spark LongType with ANSI overflow checking on.
_MIX_A = 0x9E3779B97F4A7C15
_MASK = (1 << 31) - 1


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents:
    ``(content_sha, n_docs, first_doc_id)`` for every group with n_docs > 1."""
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha"))
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("first_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one representative (min id) per identical-content group."""
    keep = (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("content_sha"))
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


def shingle_hashes(text_col: str, shingle: int = 3) -> "F.Column":
    """xxhash64 of each ``shingle``-word shingle — built-in, JVM-side;
    shingle construction shared via string_shingles/text.shingles."""
    return F.transform(string_shingles(text_col, shingle), lambda s: F.xxhash64(s))


def _minhash_perms(num_hashes: int, hashes) -> list:
    """num_hashes ``array_min(affine-permuted hashes)`` columns. Permutation
    i is ``(a_i * h + b_i) mod M31`` — products stay < 2^62, exact in
    LongType."""

    def perm(a: int, b: int):
        # single-arg lambda factory (extra default args would change the
        # arity PySpark infers for the higher-order function)
        return lambda h: F.pmod(F.lit(a) * h + b, F.lit(_MASK))

    sigs = []
    for i in range(num_hashes):
        a = ((_MIX_A * (2 * i + 1)) % _MASK) or 1
        b = (_MIX_A * (i + 7) ** 2 + 13) % _MASK
        sigs.append(F.array_min(F.transform(hashes, perm(a, b))))
    return sigs


def minhash_signature(text_col: str, num_hashes: int = 32, shingle: int = 3) -> "F.Column":
    """Array of ``num_hashes`` minhash values (inline-expression form; the
    LSH pipeline uses the barrier-materialized variant)."""
    hashes = F.transform(shingle_hashes(text_col, shingle), lambda h: F.pmod(h, F.lit(_MASK)))
    return F.array(*_minhash_perms(num_hashes, hashes))


def _bucket_key(slice_str: "F.Column", hash_fn: str) -> "F.Column":
    """Band-bucket key from a comma-joined signature slice: xxhash64 (long,
    narrow shuffle key) by default; the raw string in ``poly`` mode so the
    grouping is SQL-reproducible."""
    return slice_str if hash_fn == "poly" else F.xxhash64(slice_str)


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket_width: int | None = 10_000,
    expand_identical: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-duplicate pairs ``(id_a, id_b, jaccard)`` with id_a < id_b.

    Pipeline: collapse exact-duplicate groups (sha256) to one representative
    → signature → band buckets (groupBy shuffle) → within-bucket candidate
    pairs → exact shingle-set Jaccard verification ≥ threshold → re-expand
    group members.

    Scale guards:
    - exact-dup collapse bounds banding cost by the number of *distinct*
      texts — a corpus with million-row identical groups (the degenerate
      case that makes every band bucket quadratic) bands each group once;
    - ``max_bucket_width`` drops band buckets wider than the cap (post-
      collapse, a bucket that wide means a pathological band — the pairs it
      would contribute are overwhelmingly covered by the other bands; set
      None to disable);
    - ``expand_identical=False`` keeps output linear in group sizes: members
      link to their representative as ``(rep, member, 1.0)`` star pairs
      instead of the full quadratic within-group expansion.

    ``hash_fn="poly"`` swaps xxhash64 for the base-31 polynomial codepoint
    hash (text.polyhash) as the shingle hash and uses the raw
    comma-joined signature slice as the band-bucket key (no bucket
    rehash) — bit-reproducible in ANSI SQL, so the whole LSH pipeline
    becomes oracle-checkable. Costs: slightly weaker hash mixing and a
    string (vs long) bucket shuffle key.
    """
    if hash_fn not in ("xxhash64", "poly"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'poly', got {hash_fn!r}")
    keyed = df.select(
        F.col(id_col).alias("_id"), F.sha2(F.col(text_col), 256).alias("_sha")
    )
    groups = keyed.groupBy("_sha").agg(F.min("_id").alias("_rep"))
    members = keyed.join(groups, "_sha").select("_id", "_rep").persist()
    reps = (
        df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
        .join(members.filter(F.col("_id") == F.col("_rep")).select("_id"), "_id", "left_semi")
    )

    rows_per_band = num_hashes // bands
    # materialize shingle hashes ONCE behind a lineage barrier — otherwise
    # Catalyst's CollapseProject inlines the shingle subtree into each of the
    # num_hashes permutation expressions (num_hashes× recompute of the
    # tokenize/concat/xxhash work per row)
    if hash_fn == "poly":
        from goffish_v3_spark.operators.text import polyhash

        sh_col = F.transform(
            string_shingles("_text", shingle), lambda s: polyhash(s)
        )
    else:
        sh_col = shingle_hashes("_text", shingle)
    sh_df = reps.select("_id", sh_col.alias("sh")).localCheckpoint(eager=True)
    reduced = F.transform(F.col("sh"), lambda h: F.pmod(h, F.lit(_MASK)))
    sig = sh_df.select(
        "_id",
        F.array(*_minhash_perms(num_hashes, reduced)).alias("sig"),
        F.array_distinct("sh").alias("shset"),
    )

    banded = sig.select(
        "_id",
        "shset",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    _bucket_key(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        ),
                        hash_fn,
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("_id", "shset", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))

    if max_bucket_width is not None:
        ok_buckets = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("_bw"))
            .filter(F.col("_bw") <= max_bucket_width)
            .select("band", "bucket")
        )
        banded = banded.join(ok_buckets, ["band", "bucket"], "left_semi")

    a = banded.alias("a")
    b = banded.select(
        F.col("_id").alias("_id_b"),
        F.col("shset").alias("shset_b"),
        "band",
        "bucket",
    ).alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a._id") < F.col("_id_b"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            F.col("a.shset").alias("sa"),
            F.col("shset_b").alias("sb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = F.round(
        F.size(F.array_intersect("sa", "sb"))
        / F.greatest(F.size(F.array_union("sa", "sb")), F.lit(1)),
        6,
    )
    rep_pairs = (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )

    # re-expand exact-dup groups (identical texts ⇒ jaccard 1.0 within a
    # group, and every member inherits its representative's cross-pairs)
    ma = members.select(F.col("_rep").alias("id_a"), F.col("_id").alias("ma"))
    mb = members.select(F.col("_rep").alias("id_b"), F.col("_id").alias("mb"))
    if expand_identical:
        cross = (
            rep_pairs.join(ma, "id_a")
            .join(mb, "id_b")
            .select(
                F.least("ma", "mb").alias("id_a"),
                F.greatest("ma", "mb").alias("id_b"),
                "jaccard",
            )
        )
        intra = (
            ma.join(
                members.select(F.col("_rep").alias("id_a"), F.col("_id").alias("mb")),
                "id_a",
            )
            .filter(F.col("ma") < F.col("mb"))
            .select(
                F.col("ma").alias("id_a"),
                F.col("mb").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
            .filter(F.lit(1.0) >= jaccard_threshold)
        )
        out = cross.unionByName(intra)
    else:
        stars = (
            members.filter(F.col("_id") != F.col("_rep"))
            .select(
                F.col("_rep").alias("id_a"),
                F.col("_id").alias("id_b"),
                F.lit(1.0).alias("jaccard"),
            )
            .filter(F.lit(1.0) >= jaccard_threshold)
        )
        out = rep_pairs.unionByName(stars)
    out = out.localCheckpoint(eager=True)
    members.unpersist()
    return out


def string_shingles(text_col: str, shingle: int = 3) -> "F.Column":
    """Word ``shingle``-grams as strings (no hashing — DuckDB-expressible,
    used by the exact similarity join; the MinHash path hashes them).
    Delegates to text.shingles, the single canonical shingle expression."""
    from goffish_v3_spark.operators.text import shingles

    return shingles(F.col(text_col), shingle)


def jaccard_similarity_join(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact n-gram-Jaccard pairs ``(id_a, id_b, jaccard)`` with id_a < id_b
    via an inverted-index (shared-shingle) join — no all-pairs product:
    candidate pairs are generated only for documents sharing ≥1 shingle, and
    the shared-shingle count *is* the intersection size, so one groupBy
    yields the exact Jaccard (|A∩B| / (|A|+|B|−|A∩B|)).

    ``max_df`` drops shingles appearing in more than that many documents
    (stop-shingles) — the scale guard against a single common shingle going
    quadratic; omitting it keeps the join exact. With ``max_df`` set, both
    the intersection counts AND the set sizes are computed over the
    *surviving* shingles, so numerator and denominator use the same universe
    (Jaccard over the filtered shingle space); the remaining approximation is
    candidate recall only — a pair sharing nothing but stop-shingles is never
    generated."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(string_shingles(text_col, shingle)).alias("shset"),
    ).select("_id", F.size("shset").alias("sz"), F.explode("shset").alias("shingle"))
    if max_df is not None:
        ok = (
            sh.groupBy("shingle")
            .agg(F.count("*").alias("df"))
            .filter(F.col("df") <= max_df)
            .select("shingle")
        )
        sh = sh.join(ok, "shingle", "left_semi").drop("sz")
        # recompute sizes over the filtered universe (shingles are distinct
        # per doc, so count(*) per _id = |surviving shingle set|)
        sz = sh.groupBy("_id").agg(F.count("*").alias("sz"))
        sh = sh.join(sz, "_id")
    a = sh.alias("a")
    b = sh.select(
        F.col("_id").alias("_id_b"), F.col("sz").alias("sz_b"), "shingle"
    ).alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a._id") < F.col("_id_b"))
        .groupBy(
            F.col("a._id").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            F.col("a.sz").alias("sa"),
            F.col("sz_b").alias("sb"),
        )
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / F.greatest(F.col("sa") + F.col("sb") - F.col("inter"), F.lit(1)),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard for explicit candidate ``pairs(id_a, id_b)``."""
    sets = df.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(shingle_hashes(text_col, shingle)).alias("shset"),
    )
    out = (
        pairs.join(sets.withColumnRenamed("_id", "id_a").withColumnRenamed("shset", "sa"), "id_a")
        .join(sets.withColumnRenamed("_id", "id_b").withColumnRenamed("shset", "sb"), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.size(F.array_intersect("sa", "sb"))
                / F.greatest(F.size(F.array_union("sa", "sb")), F.lit(1)),
                6,
            ).alias("jaccard"),
        )
    )
    return out


@F.pandas_udf(T.LongType())
def _simhash_from_hashes(tok_hashes: pd.Series) -> pd.Series:
    """64-bit simhash from per-token xxhash64 values — whole-batch numpy:
    flatten the ragged token-hash arrays, one (tokens × 64) bit matrix,
    segment-accumulate ±1 votes per (row, bit), repack sign bits. No per-row
    Python loop; the token hashing itself happened JVM-side."""
    n = len(tok_hashes)
    if n == 0:
        return pd.Series(np.empty(0, dtype=np.int64))
    # NULL text ⇒ NULL token array ⇒ None element here: treat as empty
    lens = np.fromiter(
        (len(x) if x is not None else 0 for x in tok_hashes), dtype=np.int64, count=n
    )
    total = int(lens.sum())
    if total == 0:
        return pd.Series(np.zeros(n, dtype=np.int64))
    flat = np.concatenate(
        [np.asarray(x, dtype=np.int64) for x in tok_hashes if x is not None and len(x)]
    ).view(np.uint64)
    seg = np.repeat(np.arange(n, dtype=np.int64), lens)
    bits = ((flat[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1).astype(
        np.int32
    )
    acc = np.zeros((n, 64), dtype=np.int64)
    np.add.at(acc, seg, 2 * bits - 1)
    packed = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    return pd.Series(packed.view(np.int64))


def simhash_poly(df: DataFrame, text_col: str = "text") -> DataFrame:
    """60-bit simhash from TWO polynomial token-hash families (base 31 →
    bits 0–29, base 131 → bits 30–59), pure JVM expressions (no Arrow
    kernel): per-bit ±1 votes folded with nested higher-order aggregates.
    Each family contributes 30 bits because text.polyhash values are
    < 1e9+7 < 2^30; two independent bases restore the discriminative
    power a single 30-bit hash lacks (selectivity ≈ the 64-bit
    :func:`simhash` on the test corpus). SQL-reproducible — the
    oracle-checkable twin of :func:`simhash`."""
    from goffish_v3_spark.operators.text import polyhash

    toks = tokens(F.coalesce(F.col(text_col), F.lit("")))

    def mask(j):
        # 2^j as a long via pow (shiftleft needs a literal shift); exact
        # for j ≤ 62 (powers of two are always representable in double)
        return F.pow(F.lit(2.0), j).cast("long")

    def bitsof(h):
        # ±1 vote vector for one token hash
        return F.transform(
            F.sequence(F.lit(0), F.lit(29)),
            lambda j: F.when(h.bitwiseAND(mask(j)) != 0, F.lit(1).cast("long")).otherwise(
                F.lit(-1).cast("long")
            ),
        )

    def family(base: int, offset: int):
        """Packed 30 bits (shifted by ``offset``) for one hash family — the
        token-hash array and the vote array each appear exactly ONCE as an
        expression subtree (HOF lambdas defeat Catalyst subexpression
        elimination, so a naive per-bit aggregate would recompute the whole
        polyhash pass 30×; one accumulate pass + an indexed transform over
        the materialized vote array keeps it O(tokens · 30) per row)."""
        th = F.transform(toks, lambda t: polyhash(t, base=base))
        votes = F.aggregate(
            th,
            F.array_repeat(F.lit(0).cast("long"), 30),
            lambda acc, h: F.zip_with(acc, bitsof(h), lambda a, b: a + b),
        )
        packed = F.transform(
            votes,
            lambda v, i: F.when(v > 0, mask(i + offset)).otherwise(
                F.lit(0).cast("long")
            ),
        )
        return F.aggregate(packed, F.lit(0).cast("long"), lambda a, x: a + x)

    return df.withColumn("simhash", family(31, 0) + family(131, 30))


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Append a ``simhash`` long column.

    Deterministic across runs and processes: token hashes are Spark's
    ``xxhash64`` (seed-free, JVM-side); the Arrow kernel only folds the bit
    votes. (The previous implementation used Python's per-interpreter-salted
    ``hash()`` — stable within one job, not across runs.)

    NULL text hashes like the empty string (simhash 0) instead of failing
    the stage."""
    tok_hashes = F.transform(
        tokens(F.coalesce(F.col(text_col), F.lit(""))), lambda t: F.xxhash64(t)
    )
    return df.withColumn("simhash", _simhash_from_hashes(tok_hashes))


def _banded_pairs(s: DataFrame, width: int, max_hamming: int) -> DataFrame:
    """Charikar multi-block banding over a ``(_id, simhash)`` table: split
    the ``width``-bit simhash into ``max_hamming + 1`` contiguous blocks —
    any pair at Hamming ≤ max_hamming differs in ≤ max_hamming blocks, so by
    pigeonhole it agrees EXACTLY on at least one block. One equality join
    per block therefore generates every qualifying pair (lossless candidate
    generation, unlike a single-prefix bucket which misses pairs differing
    inside the prefix — VERDICT r3 #4), then the exact ``bit_count(xor)``
    filter keeps true near-dups and ``distinct`` folds pairs matched in
    several blocks.

    Scale shape: the blocks ride ONE exploded (band, key) column — a single
    self-equi-join on (band, key), never a cross product; candidate volume
    is (max_hamming+1)× the single-bucket variant's, all bucketed."""
    n_bands = max_hamming + 1
    if not 1 <= n_bands <= width:
        # n_bands > width would yield zero-width blocks whose key is
        # constantly 0 (that band's self-join degenerates toward a cross
        # product); n_bands < 1 is nonsense input
        raise ValueError(
            f"max_hamming+1 must be in [1, width={width}], got {n_bands}"
        )
    bounds = [width * j // n_bands for j in range(n_bands + 1)]

    def _block_key(j: int):
        key = F.shiftrightunsigned("simhash", bounds[j])
        blk_w = bounds[j + 1] - bounds[j]
        if blk_w < 64:
            # blk_w == 64 (max_hamming=0, width=64): the mask (1<<64)-1
            # exceeds LongType and fails at plan build — the full-width
            # shifted value IS the key, no mask needed
            key = key.bitwiseAND(F.lit((1 << blk_w) - 1))
        return key

    bands = F.array(
        *[
            F.struct(F.lit(j).alias("band"), _block_key(j).alias("key"))
            for j in range(n_bands)
        ]
    )
    bs = s.select("_id", "simhash", F.explode(bands).alias("b")).select(
        "_id", "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key")
    )
    a = bs.alias("a")
    b = bs.select(
        F.col("_id").alias("_id_b"), F.col("simhash").alias("sim_b"), "band", "key"
    ).alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a._id") < F.col("_id_b"))
        .select(
            F.col("a._id").alias("id_a"),
            F.col("_id_b").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("sim_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs at simhash Hamming distance ≤ ``max_hamming``
    (``(id_a, id_b, hamming)``) — EXACT over the simhash: candidates come
    from lossless multi-block banding (:func:`_banded_pairs`), not a
    recall-lossy prefix bucket. ``hash_fn="poly"`` uses the 60-bit
    :func:`simhash_poly` (SQL-reproducible) instead of the 64-bit xxhash64
    simhash."""
    if hash_fn not in ("xxhash64", "poly"):
        raise ValueError(f"hash_fn must be 'xxhash64' or 'poly', got {hash_fn!r}")
    if hash_fn == "poly":
        s = simhash_poly(df, text_col).select(F.col(id_col).alias("_id"), "simhash")
        width = 60
    else:
        s = simhash(df, text_col).select(F.col(id_col).alias("_id"), "simhash")
        width = 64
    return _banded_pairs(s, width, max_hamming)


def near_dup_clusters(
    spark,
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """Near-duplicate CLUSTERS: ``(doc_id, canonical_id, cluster_size)`` for
    EVERY document — the step a real dedup pipeline runs after pair
    generation (pairs alone under-delete: a~b and b~c must collapse to ONE
    kept doc even when a~c was never emitted as a pair).

    Connected components over the near-dup pair graph via the engine's own
    :func:`operators.wcc.wcc` (partition-local union-find + meta Boruvka —
    the 100 TB path: edge payloads never reshuffle, only contracted labels
    do). ``canonical_id`` = min doc id in the cluster; documents in no pair
    map to themselves with cluster_size 1.

    ``pairs``: any ``(id_a, id_b, …)`` near-dup pair table (minhash, simhash,
    n-gram, embedding — they all emit this shape); defaults to
    :func:`minhash_lsh_pairs` on ``df`` with ``lsh_kwargs`` passed through.
    """
    from pyspark.sql import Window

    from goffish_v3_spark.operators.wcc import wcc

    if pairs is None:
        pairs = minhash_lsh_pairs(df, id_col=id_col, **lsh_kwargs)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = wcc(spark, edges)
    labeled = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("vid"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("label"), F.col("doc_id")).alias("canonical_id"),
        )
    )
    return labeled.withColumn(
        "cluster_size", F.count("*").over(Window.partitionBy("canonical_id"))
    )


def dedup_keep_canonical(
    spark,
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    **lsh_kwargs,
) -> DataFrame:
    """``df`` with one canonical representative (min id) kept per near-dup
    cluster — :func:`near_dup_clusters` filtered to ``doc_id ==
    canonical_id`` and joined back to the full rows."""
    clusters = near_dup_clusters(spark, df, pairs=pairs, id_col=id_col, **lsh_kwargs)
    keep = clusters.filter(F.col("doc_id") == F.col("canonical_id")).select(
        F.col("doc_id").alias("_keep_id")
    )
    return df.join(keep, df[id_col] == F.col("_keep_id"), "left_semi")
