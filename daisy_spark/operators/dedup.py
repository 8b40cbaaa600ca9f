"""Deduplication operators for large-scale document corpora.

The reference deduplicates at storage level (ReplacingMergeTree merge-time
row dedup — reference: src/Storages/MergeTree/registerStorageMergeTree.cpp);
a training-data pipeline additionally needs *content* dedup: exact,
MinHash-LSH, SimHash, and embedding-cosine near-duplicate detection.

Everything here is DataFrame composition, mostly over JVM-side
expressions (``xxhash64``, higher-order array functions).  The MinHash,
SimHash and random-hyperplane signatures are Arrow UDFs (one numpy pass
per batch).  Higher-order functions (``transform``/``aggregate`` with a
lambda) run interpreted per row, outside whole-stage codegen, so
per-element index arithmetic is spelled out as flat literal-index
expressions instead (a ``transform(sequence(...))`` band projection
measured 2.2 s against 0.5 s for the flat form at sf0.1).
There is no ``collect()`` and critically **never an all-pairs cartesian
product**:

- exact dedup is one hash-groupBy (map-side combine, one shuffle);
- MinHash near-dup shuffles on *(band, band-hash)* buckets, so candidate
  generation is proportional to the number of colliding docs, not n²;
- SimHash buckets on combinations of its 8-bit signature bands the same
  way;
- embedding near-dup buckets on random-hyperplane sign bands.

At 100 TB the only scale hazard is a degenerate bucket (e.g. millions of
copies of the empty document); ``max_bucket_size`` caps the join fan-out
per bucket, trading recall on pathological buckets for bounded work —
the same trade ES/Spark dedup pipelines make in practice.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    content_cols: list[str],
    id_col: str,
) -> DataFrame:
    """Keep one row per distinct content (lowest ``id_col`` wins).

    One hash-aggregate: groupBy the content hash with ``min_by`` — partial
    aggregation runs map-side, so the shuffle carries one row per distinct
    content per input partition, not the full corpus.
    """
    key = F.sha2(F.concat_ws("\x1f", *content_cols), 256).alias("_content_key")
    keep = df.select(key, F.col(id_col)).groupBy("_content_key").agg(
        F.min(id_col).alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def exact_dedup_stats(df: DataFrame, content_cols: list[str]) -> DataFrame:
    """Single-row summary: total rows, distinct contents, duplicate rows."""
    key = F.sha2(F.concat_ws("\x1f", *content_cols), 256)
    return df.select(key.alias("k")).agg(
        F.count(F.lit(1)).alias("total_docs"),
        F.countDistinct("k").alias("distinct_docs"),
        (F.count(F.lit(1)) - F.countDistinct("k")).alias("dup_docs"),
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash-LSH
# ---------------------------------------------------------------------------


def with_shingles(
    df: DataFrame,
    text_col: str,
    out_col: str = "shingles",
    k: int = 3,
) -> DataFrame:
    """Distinct word k-gram shingles of ``text_col`` (whitespace tokens).

    Computed with a single higher-order expression per row — no explode,
    no shuffle.  Docs shorter than k words get their whole token list as
    one shingle so they can still match exact copies of themselves.
    """
    # zip_with chain instead of transform(sequence(...), i ->
    # concat_ws(slice(...))): the per-position slice() copies k-element
    # arrays per shingle and the whole transform runs interpreted —
    # measured 2.2 s vs 0.3 s over sf0.1 documents for identical
    # output.  gram j appends token column i+j via one O(n) zip_with;
    # rows shorter than k keep their whole token list as one shingle.
    tok_tmp = f"__sh_toks_{out_col}"
    df = df.withColumn(tok_tmp, F.expr(f"split({text_col}, ' +')"))
    grams = tok_tmp
    for j in range(2, k + 1):
        grams = (
            f"zip_with({grams}, slice({tok_tmp}, {j}, size({tok_tmp}) - {j - 1}), "
            f"(a, b) -> concat(a, ' ', b))"
        )
    shingles = (
        f"CASE WHEN size({tok_tmp}) <= {k} "
        f"THEN array(concat_ws(' ', {tok_tmp})) "
        f"ELSE slice({grams}, 1, size({tok_tmp}) - {k} + 1) END"
    )
    return df.withColumn(out_col, F.expr(f"array_distinct({shingles})")).drop(
        tok_tmp
    )


def with_minhash_signature(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    out_col: str = "minhash",
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature per ``id_col``: each shingle is string-hashed
    ONCE (``xxhash64(s)``); the ``num_hashes`` hash family is derived
    from that base hash with cheap long-pair hashes ``xxhash64(h, i)``.

    Returns ``(id_col, out_col)``.

    Scale shape: one explode to shingle rows, then a single
    ``groupBy(id)`` with ``num_hashes`` flat ``min`` columns — all inside
    whole-stage codegen with map-side partial aggregation, so the shuffle
    carries one signature row per doc per input partition.  (The nested
    higher-order formulation — ``transform(seq, i ->
    array_min(transform(shingles, s -> xxhash64(s, i))))`` — both
    re-hashes every shingle STRING ``num_hashes`` times and runs
    interpreted rather than compiled; see the module docstring.)
    """
    from pyspark.sql import types as T

    ex = df.select(F.col(id_col), F.explode_outer(F.col(shingle_col)).alias("_s"))
    if isinstance(df.schema[shingle_col].dataType.elementType, T.LongType):
        # pre-hashed shingles (the pipeline persists xxhash64(s) arrays):
        # the exploded element already IS the base hash — skip re-hashing
        # and never ship the shingle strings through the explode
        ex = ex.withColumn("_h", F.col("_s"))
    else:
        ex = ex.withColumn("_h", F.xxhash64("_s"))
    aggs = [
        F.min(F.xxhash64("_h", F.lit(i))).alias(f"_m{i}")
        for i in range(num_hashes)
    ]
    return (
        ex.groupBy(id_col)
        .agg(*aggs)
        .select(
            F.col(id_col),
            F.array(*[F.col(f"_m{i}") for i in range(num_hashes)]).alias(out_col),
        )
    )


def minhash_signature_pandas(
    df: DataFrame,
    id_col: str,
    shingle_col: str = "hshingles",
    out_col: str = "minhash",
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash signature from PRE-HASHED (long) shingle arrays via one
    Arrow-batched pandas UDF — bit-identical to
    :func:`with_minhash_signature`'s explode+groupBy form (the hash
    family is the same ``xxhash64(h, i)``; functions/nphash.py replicates
    Spark's hash bit-exactly, pinned by tests).

    Why: the explode+groupBy form pays an explode to |shingles| rows,
    64 JVM hash calls per shingle row, a 64-column aggregation buffer
    and one SHUFFLE on the id.  This form is a narrow per-row map — no
    explode, no exchange (guide §2.4 "remove shuffles outright"), and
    the 64×|shingles| hashing runs as vectorized uint64 numpy per batch
    (guide §4.2).
    """
    def _sig(arrs: "pd.Series") -> "pd.Series":
        from daisy_spark.functions.nphash import hash_int, hash_long

        if len(arrs) == 0:
            return pd.Series([], dtype=object)
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        flat = (
            np.concatenate([np.asarray(a, dtype=np.int64) for a in arrs])
            if lens.sum()
            else np.empty(0, dtype=np.int64)
        )
        starts = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        base = hash_long(flat.view(np.uint64), np.uint64(42))
        nonempty = lens > 0
        sig = np.empty((len(arrs), num_hashes), dtype=np.int64)
        for i in range(num_hashes):
            # the JVM family index is F.lit(i) — an IntegerType child,
            # hashed through XXH64's 4-byte path
            hi = hash_int(np.uint64(i), base).view(np.int64)
            if nonempty.all():
                sig[:, i] = np.minimum.reduceat(hi, starts)
            else:
                # explode_outer emits one NULL row for an empty array;
                # xxhash64 skips null children, so that row's hash is
                # hashInt(i, 42) — mirror it exactly
                filled = np.full(
                    len(arrs),
                    hash_int(np.uint64(i), np.uint64(42)).view(np.int64),
                )
                if nonempty.any():
                    filled[nonempty] = np.minimum.reduceat(
                        hi, starts[nonempty]
                    )[: int(nonempty.sum())]
                sig[:, i] = filled
        return pd.Series(list(sig))

    _sig.__annotations__ = {"arrs": pd.Series, "return": pd.Series}
    udf = pandas_udf(_sig, "array<long>")
    return df.select(F.col(id_col), udf(F.col(shingle_col)).alias(out_col))


def _bucket_pairs(
    banded: DataFrame,
    bucket_cols: list[str],
    payload,
    max_bucket_size: int | None,
):
    """Shared LSH bucket → candidate-pair expansion.

    ONE hash aggregation collects each bucket's member list (map-side
    combinable), the size guard is a free filter on that same
    aggregation (no second shuffle, unlike a count + semi-join guard),
    and the quadratic pair expansion happens inside the bucket row via a
    sorted HOF — bounded by ``max_bucket_size``, never all-pairs.
    Returns one row per (bucket, pair): struct column ``p`` with fields
    ``a``/``b`` (payload structs, ``a < b`` by sort order).
    """
    buckets = banded.groupBy(*bucket_cols).agg(
        F.collect_list(payload).alias("_raw")
    )
    guard = F.size("_raw") >= 2
    if max_bucket_size is not None:
        guard = guard & (F.size("_raw") <= max_bucket_size)
    pairs = (
        buckets.filter(guard)
        # sort ONCE per bucket; the pair HOF must not re-sort per element
        .withColumn("_ms", F.array_sort("_raw"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(_ms, (a, i) -> "
                    "transform(slice(_ms, i + 2, size(_ms)), "
                    "b -> struct(a, b))))"
                )
            ).alias("p")
        )
    )
    return pairs


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    sig_col: str = "minhash",
    bands: int = 16,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """LSH banding: docs sharing any (band, band-hash) bucket become
    candidate pairs ``(id1, id2)`` with ``id1 < id2``.

    Scale shape: explode to ``bands`` rows/doc, ONE shuffle onto the
    bucket key (collect bucket members + size guard in the same
    aggregation), in-row pair expansion, then one distinct — two
    shuffles end-to-end.  ``max_bucket_size`` drops degenerate buckets
    (fan-out is quadratic in bucket size).
    """
    # flat literal-index band structs: the transform(sequence(...)) form
    # runs interpreted per row (module docstring) — spell the bands out
    band_structs = ", ".join(
        f"named_struct('band', {b}, "
        f"'bh', xxhash64(slice({sig_col}, {b * rows_per_band + 1}, {rows_per_band})))"
        for b in range(bands)
    )
    banded = df.select(
        F.col(id_col),
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bh").alias("bh"))

    pairs = _bucket_pairs(
        banded, ["band", "bh"], F.col(id_col), max_bucket_size
    )
    return pairs.select(
        F.col("p.a").alias("id1"), F.col("p.b").alias("id2")
    ).distinct()


def jaccard_verify(
    candidates: DataFrame,
    shingled: DataFrame,
    id_col: str,
    shingle_col: str = "shingles",
    threshold: float = 0.7,
) -> DataFrame:
    """Exact shingle-set Jaccard on candidate pairs only.

    The candidate pairs join against the shingled corpus with plain
    equi-joins — no forced broadcast.  Candidate volume is
    O(corpus × duplicate-rate): on a duplicate-heavy web corpus it is
    NOT driver/executor-memory sized, so broadcasting it (or the
    pair×shingle-array intermediate built on it) would OOM every
    executor at 100 TB.  A shuffle hash join on ``id1``/``id2`` scales
    with partition count instead; when the candidate set *is* tiny,
    AQE's runtime size measurement converts the join to a broadcast on
    its own — the safe direction to be wrong in.  Output:
    ``id1, id2, jaccard`` above threshold.

    The intersection runs on xxhash64-hashed shingles, not the strings:
    long-array intersects measure ~5× faster than string-array ones and
    the joins carry 8-byte elements instead of whole shingle text
    (collision odds within one pair's union are ~n²/2⁶⁴ — immaterial).
    The union size is derived as |A|+|B|−|A∩B| from the distinct-shingle
    arrays, saving the second array scan.

    When ``shingle_col`` already holds hashed shingles (long elements —
    the pipelines persist them pre-hashed), the per-side hashing
    transform is skipped: that transform is a higher-order function, so
    it runs interpreted, and evaluating it once per join side doubled
    the cost.

    PRECONDITION (pre-hashed path): the long arrays must hold DISTINCT
    elements — |A∪B| is derived as |A|+|B|−|A∩B|, which is only correct
    for sets.  Both internal callers materialize
    ``array_distinct(transform(...))``; external callers passing raw
    (non-deduped) hashed shingles would get silently inflated union
    sizes.  (Re-applying array_distinct here would re-pay a collection
    scan per row per side on every pipeline, so the precondition is
    documented rather than re-enforced.)
    """
    from pyspark.sql import types as T

    elem = shingled.schema[shingle_col].dataType.elementType
    if isinstance(elem, T.LongType):
        hashed = F.col(shingle_col)
    else:
        hashed = F.array_distinct(
            F.transform(F.col(shingle_col), lambda s: F.xxhash64(s))
        )
    s1 = shingled.select(F.col(id_col).alias("id1"), hashed.alias("_s1"))
    s2 = shingled.select(F.col(id_col).alias("id2"), hashed.alias("_s2"))
    inter = F.size(F.array_intersect("_s1", "_s2"))
    j = (
        inter / (F.size("_s1") + F.size("_s2") - inter)
    ).alias("jaccard")
    half = s1.join(candidates, "id1")  # |candidates| rows
    return (
        s2.join(half, "id2")
        .select("id1", "id2", j)
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """End-to-end near-duplicate pairs: shingle → MinHash → banded LSH →
    exact-Jaccard verify.  With 64 hashes / 16 bands of 4, detection
    probability at J=0.7 is 1-(1-0.7⁴)¹⁶ ≈ 0.986 and ≈ 1-4e-8 at J=0.9.
    """
    # shingles feed the signature AND both verify sides.  The verify-side
    # hashed arrays are built HERE, once — the hashing transform is an
    # interpreted higher-order function, and leaving it inside
    # jaccard_verify evaluated it once per join side.  No persist: a
    # cache adds its own jobs and hides Spark's exchange reuse, which
    # lets both verify sides read one exchange (the signature branch
    # hashes the shingles once more, inside its UDF's input)
    shingled = with_shingles(df, text_col, k=shingle_k).select(
        id_col,
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("hshingles"),
    )
    # signature via the Arrow-batched numpy path: no explode, no
    # signature shuffle (the explode+groupBy form paid one exchange +
    # 64 JVM hash calls per shingle row); bit-identical hash family
    # (tests/test_optimizations_r13.py pins it).  No persist: the
    # signature has exactly one consumer since the r12 guard fusion.
    sig = minhash_signature_pandas(
        shingled, id_col, shingle_col="hshingles", num_hashes=num_hashes
    )
    cand = minhash_candidates(
        sig,
        id_col,
        bands=bands,
        rows_per_band=num_hashes // bands,
        max_bucket_size=max_bucket_size,
    )
    return jaccard_verify(
        cand, shingled, id_col, shingle_col="hshingles", threshold=threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: SimHash banding: 8 bands of 8 bits.  Pigeonhole: any pair with Hamming
#: distance ≤ 7 shares at least one exact band, so candidate recall is
#: GUARANTEED up to 7 flipped bits (near-dup docs in practice sit ≤ 5).
SIMHASH_BANDS = 8
SIMHASH_BAND_BITS = 8


def _simhash_vote(hashes: pd.Series) -> pd.Series:
    """Packed 64-bit SimHash of each row's token-hash array: bit k is set
    iff strictly more than half of the row's tokens have bit k set.  A
    NULL or empty array casts no vote and packs to 0.  The body of
    :func:`with_simhash`'s Arrow UDF."""
    lens = np.fromiter(
        (0 if a is None else len(a) for a in hashes), np.int64, len(hashes)
    )
    nonempty = lens > 0
    starts = np.cumsum(lens) - lens
    flat = np.concatenate(
        [np.empty(0, "<i8")]
        + [np.asarray(a, dtype="<i8") for a in hashes if a is not None]
    )
    # little-endian bytes: column j holds bits 8j..8j+7 of each hash, so
    # one byte column at a time keeps the unpacked votes at 8 B per token
    tok_bytes = flat.view(np.uint8).reshape(-1, 8)
    packed = np.zeros((len(hashes), 8), np.uint8)
    for j in range(8):
        bits = np.unpackbits(tok_bytes[:, j, None], axis=1, bitorder="little")
        ones = np.add.reduceat(bits, starts[nonempty], axis=0, dtype=np.int64)
        packed[nonempty, j] = np.packbits(
            2 * ones > lens[nonempty, None], axis=1, bitorder="little"
        )[:, 0]
    return pd.Series(packed.view("<i8")[:, 0])


def with_simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    out_col: str = "simhash",
) -> DataFrame:
    """64-bit SimHash per row: each whitespace token votes on each bit of
    its ``xxhash64``; bit k is set iff more than half of the tokens have
    it set.  A document with no tokens (NULL, empty or blank text) has no
    votes and hashes to 0.

    Returns ``(id_col, out_col, out_col + '_h')`` — the banded signature
    array (eight 8-bit values, band b = ``(h >> 8b) & 255``) and the
    packed 64-bit hash ``h`` for Hamming distance via xor/bit_count.

    Plan shape: one narrow projection, no shuffle.  The JVM hashes the
    tokens (``transform(..., t -> xxhash64(t))``, so the hash is Spark's
    own and bit-exact by construction) and an Arrow UDF over
    :func:`_simhash_vote` counts the 64 votes per document in numpy.  The
    vote is a UDF because its Catalyst forms are large or slow: a
    higher-order vote over the token array runs interpreted per row, and
    the flat form (a token explode, a groupBy over 16-bit packed bit sums
    and a 64-term projection) costs a shuffle and a large plan — at sf0.1
    it took 0.35 s to build and 0.64 s to run, against 0.05 s and 0.29 s
    here — and its lanes overflowed past 65,535 equal votes.  There is no
    cap on tokens per document.
    """
    hashes = F.expr(
        f"transform(filter(split({text_col}, ' +'), t -> t != ''), "
        "t -> xxhash64(t))"
    )
    h = f"{out_col}_h"
    bands = "array(" + ", ".join(
        f"shiftright({h}, {SIMHASH_BAND_BITS * b}) & 255"
        for b in range(SIMHASH_BANDS)
    ) + ")"
    # a UDF object binds to the JVM of its first call, so it is made per
    # call: one kept at module scope fails once its session's JVM stops
    vote = pandas_udf(_simhash_vote, LongType())
    return df.select(F.col(id_col), vote(hashes).alias(h)).select(
        id_col, F.expr(bands).alias(out_col), h
    )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    simhash_col: str = "simhash",
    max_hamming: int = 5,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Candidate pairs within SimHash Hamming radius ``max_hamming``, via
    the Manku/Google multi-block scheme: a pair within radius r leaves at
    least (bands - r) bands untouched, so matching on every combination of
    (bands - r) bands GUARANTEES recall up to r.  The default r=5 probes
    C(8,3)=56 combinations of 24-bit keys — the scale-safe configuration
    (fine-grained buckets).  Radius 7 stays reachable by argument but
    probes the 8 single bands — 8-bit keys, so on huge corpora buckets
    get big and ``max_bucket_size`` (or :func:`minhash_dedup_pairs`,
    whose keys are 64-bit) is the scale valve; prefer MinHash for loose
    thresholds.

    Scale shape: explode to |combos| rows/doc, one shuffle on the combo
    key, join within buckets; ``max_bucket_size`` bounds degenerate-bucket
    fan-out.  The bucket-size guard is a window count over the combo key,
    so it runs on the exchange the self-join needs anyway: both join
    sides are one plan and Spark reuses that exchange, one shuffle for
    the guard and the join.
    """
    import itertools

    nb, bb = SIMHASH_BANDS, SIMHASH_BAND_BITS
    r_clean = max(nb - max_hamming, 1)
    combos = list(itertools.combinations(range(nb), r_clean))
    combo_structs = ", ".join(
        f"named_struct('cid', {cid}, 'key', "
        + " | ".join(
            f"shiftleft(element_at({simhash_col}, {band + 1}), {j * bb})"
            for j, band in enumerate(combo)
        )
        + ")"
        for cid, combo in enumerate(combos)
    )
    banded = df.select(
        F.col(id_col),
        F.col(f"{simhash_col}_h").alias("_h"),
        F.inline(F.expr(f"array({combo_structs})")),
    )

    # SimHash buckets are FAT (8-bit keys ⇒ ≤256 buckets per combo), so
    # pair expansion stays in the codegen'd self-join — the in-row HOF
    # expansion used for MinHash (_bucket_pairs) runs interpreted and
    # measured slower here on exactly those fat buckets.
    if max_bucket_size is not None:
        n = F.count(F.lit(1)).over(Window.partitionBy("cid", "key"))
        banded = banded.withColumn("_n", n).filter(F.col("_n") <= max_bucket_size)

    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id1"),
            F.col(f"b.{id_col}").alias("id2"),
            F.bit_count(F.col("a._h").bitwiseXOR(F.col("b._h"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 5,
    jaccard_threshold: float = 0.9,
    shingle_k: int = 3,
) -> DataFrame:
    """SimHash-bucketed near-dup pairs, verified with exact shingle Jaccard
    (precision is exact; recall guaranteed within the Hamming radius by
    the multi-block candidate scheme).  SimHash's Hamming radius tracks
    only very similar docs — use it for J ≳ 0.9 duplicates; MinHash-LSH
    is the right tool for looser thresholds.

    Nothing is persisted.  Each frame that is read twice — the
    signatures on both sides of the bucket join, the hashed shingles on
    both sides of the verify — is read through one exchange that Spark
    reuses, so the signature UDF and the shingle hashing each run once
    per call.  A persist would instead add a cache-building job per frame
    and hide the reuse (13 Spark jobs per call against 7 at sf0.01,
    local[3]).
    """
    hashed = with_simhash(df, text_col, id_col)
    cand = simhash_candidates(hashed, id_col, max_hamming=max_hamming)
    # verify consumes only the HASHED shingle arrays — hashed here, in
    # the frame both join sides share, not once per side (the transform
    # is an interpreted higher-order function)
    shingled = with_shingles(df, text_col, k=shingle_k).select(
        id_col,
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("hshingles"),
    )
    return jaccard_verify(
        cand.select("id1", "id2"),
        shingled,
        id_col,
        shingle_col="hshingles",
        threshold=jaccard_threshold,
    )


# ---------------------------------------------------------------------------
# Embedding near-dup (cosine)
# ---------------------------------------------------------------------------


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    planes: int = 256,
    bands: int = 16,
    max_bucket_size: int | None = 10000,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via random-
    hyperplane LSH buckets + exact cosine verify on candidates.

    Hyperplane components are deterministic (hash-derived, no RNG state),
    so the operator is reproducible across runs/partitions; the signature
    is one numpy matmul per Arrow batch (see with_hyperplane_signature).

    Band-width tuning is the whole game at scale: the default 16 bands of
    16-bit keys makes RANDOM collisions ~2⁻¹⁶ per band (candidate volume
    stays linear-ish in corpus size) while a true near-dup at cosine 0.99
    (per-plane agreement ≈ 0.955) collides with prob ≈ 1-(1-0.48)¹⁶ ≈
    0.9999.  Borderline pairs near the 0.95 threshold get ≈ 0.93 recall —
    the standard SRP-LSH trade; verification is exact, so precision is 1.
    """
    from daisy_spark.operators.similarity import (
        cosine_expr,
        with_hyperplane_signature,
    )

    rows_per_band = planes // bands
    # band on ids ONLY — the shuffled banding rows are (id, band, bv)
    # triples, never the vector (a 16-band explode that carried vectors
    # would push 16 copies of every embedding through the bucket shuffle)
    sig = with_hyperplane_signature(df, vec_col, planes=planes).select(
        F.col(id_col), F.col("_hp_sig")
    )
    # flat literal-index band values (HOFs run interpreted — module
    # docstring): bv(b) = Σ_i sig[b*rpb + i] << i spelled out
    band_structs = ", ".join(
        f"named_struct('band', {b}, 'bv', cast("
        + " + ".join(
            f"shiftleft(element_at(_hp_sig, {b * rows_per_band + i + 1}), {i})"
            for i in range(rows_per_band)
        )
        + " as bigint))"
        for b in range(bands)
    )
    banded = sig.select(
        id_col,
        F.explode(F.expr(f"array({band_structs})")).alias("bb"),
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))

    # candidate id pairs, deduped BEFORE the expensive cosine: a pair
    # colliding in k bands must score once, not k times.  16-bit band
    # keys make buckets FINE-grained (≲ handfuls of ids), so the
    # MinHash-style in-row expansion applies: ONE hash aggregation
    # collects each bucket's members with the size guard free on the
    # same aggregation, then pairs expand inside the bucket row — two
    # shuffles (bucket agg + distinct) where the former size-count +
    # semi-join + self-join chain paid four.
    pairs = _bucket_pairs(banded, ["band", "bv"], F.col(id_col), max_bucket_size)
    cand = (
        pairs.select(F.col("p.a").alias("id1"), F.col("p.b").alias("id2"))
        .distinct()
    )

    # exact-cosine verify on the candidate pairs: the joins carry the
    # RAW float vectors, scored by the same fold as every other cosine
    vecs = df.select(F.col(id_col), F.col(vec_col))
    return (
        cand.join(
            vecs.select(F.col(id_col).alias("id1"), F.col(vec_col).alias("_v1")),
            "id1",
        )
        .join(
            vecs.select(F.col(id_col).alias("id2"), F.col(vec_col).alias("_v2")),
            "id2",
        )
        .select(
            "id1",
            "id2",
            cosine_expr("_v1", "_v2").alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )
