"""Similarity search over embedding columns (``array<float>``).

Two tiers, mirroring how a 100-TB training-data pipeline would run ANN:

- :func:`cosine_topk` — exact brute-force top-k.  Correct baseline; the
  query side must be small (it is broadcast), the corpus side streams
  through a single narrow pass (no corpus shuffle — the only wide step is
  the final per-query top-k, which carries ≤ ``k`` rows per partition per
  query after partial aggregation).
- :func:`ivf_topk` — IVF-style: restrict the search to the corpus cells
  whose centroid is nearest the query (probe=1 default).  Cells come from
  a label/cluster column (k-means assignment upstream); centroids are one
  aggregation over the corpus.
- :func:`with_hyperplane_signature` — random-hyperplane sign bits, the
  building block for LSH-bucketed ANN and embedding dedup
  (:func:`daisy_spark.operators.dedup.embedding_dedup_pairs`).

Every cosine is :func:`cosine_expr`, a JVM-side left fold (``zip_with`` +
``aggregate``).  The one Python boundary is the hyperplane projection in
:func:`with_hyperplane_signature`, an Arrow UDF doing one numpy matmul per
batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * y), "
        "cast(0 as double), (acc, x) -> acc + x)"
    )


def _norm(a: str) -> str:
    return (
        f"sqrt(aggregate(transform({a}, x -> cast(x as double) * x), "
        "cast(0 as double), (acc, x) -> acc + x))"
    )


def cosine_expr(a: str, b: str) -> F.Column:
    """Cosine similarity between two array columns as a single expression.

    The one cosine implementation: every scorer in the engine (the IVF
    centroid probe and the bulk top-k, LSH re-rank and dedup verify
    paths) goes through it.  Elements widen float → double, and dot
    product and norms are each one left fold, so every path sums in the
    same order.  The folds run interpreted in Catalyst, yet on the bulk
    paths this measured faster than an Arrow-batched numpy scorer, whose
    per-task Python worker start-up outweighed its einsum; a spelled-out
    literal chain blew the JVM 64 KB codegen limit and ran ~40% slower.

    A zero vector has no direction: its cosine is NULL (``try_divide``;
    a plain ``/`` raises DIVIDE_BY_ZERO under ANSI mode), so it ranks
    last in a top-k and never passes a dedup threshold."""
    return F.expr(f"try_divide({_dot(a, b)}, {_norm(a)} * {_norm(b)})")


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k of ``corpus`` for each query row.

    ``queries`` is broadcast (must be small — the point of a top-k scan);
    the corpus is read once with no shuffle, and the row_number window
    partitions by query id so the final top-k shuffle moves only candidate
    rows, never vectors-of-the-corpus × queries.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
        )
    )
    scored = corpus.select(corpus_id, corpus_vec).join(q).select(
        F.col("_qid").alias(query_id),
        F.col(corpus_id),
        cosine_expr("_qvec", corpus_vec).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )


def cluster_centroids(
    corpus: DataFrame, vec_col: str, cell_col: str
) -> DataFrame:
    """Per-cell mean vector (the IVF coarse quantizer), one aggregation.

    posexplode → groupBy(cell, dim) avg → re-assemble the array ordered by
    dimension.  The shuffle carries (cells × dims) rows — trivial.
    """
    exploded = corpus.select(
        F.col(cell_col), F.posexplode(vec_col).alias("pos", "v")
    )
    per_dim = exploded.groupBy(cell_col, "pos").agg(
        F.avg(F.col("v").cast("double")).alias("c")
    )
    return per_dim.groupBy(cell_col).agg(
        F.expr(
            "transform(array_sort(collect_list(named_struct('pos', pos, 'c', c))), "
            "s -> s.c)"
        ).alias("centroid")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    cell_col: str,
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """IVF ANN: route each query to its ``n_probe`` nearest cell centroids,
    then exact top-k *within those cells only*.

    At scale the corpus is hash-partitioned (or bucketed) by ``cell_col``;
    the probe join is a broadcast of (queries × n_probe) cell keys, so the
    scan prunes to the probed cells instead of the whole corpus.
    """
    cents = cluster_centroids(corpus, corpus_vec, cell_col)
    q = queries.select(
        F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
    )
    # queries × centroids is (|Q| × cells) — both tiny; broadcast centroids
    probe_w = Window.partitionBy("_qid").orderBy(
        F.col("_csim").desc(), F.col(cell_col)
    )
    probes = (
        q.join(F.broadcast(cents))
        .select(
            "_qid", "_qvec", cell_col, cosine_expr("_qvec", "centroid").alias("_csim")
        )
        .withColumn("_pr", F.row_number().over(probe_w))
        .filter(F.col("_pr") <= n_probe)
        .select("_qid", "_qvec", cell_col)
    )
    scored = corpus.select(cell_col, corpus_id, corpus_vec).join(
        F.broadcast(probes), on=cell_col
    ).select(
        F.col("_qid").alias(query_id),
        F.col(corpus_id),
        F.col(cell_col),
        cosine_expr("_qvec", corpus_vec).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, cell_col, "cosine", "rank")
    )


def _plane_matrix(planes: int, dims: int):
    """Deterministic pseudo-random hyperplane components in [-1, 1]:
    a splitmix64-style integer hash of (plane, dim) — identical on every
    executor and across runs, no RNG state to ship."""
    import numpy as np

    p = np.arange(planes, dtype=np.uint64)[:, None]
    d = np.arange(dims, dtype=np.uint64)[None, :]
    x = p * np.uint64(0x9E3779B97F4A7C15) + d * np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xD6E8FEB86659FD93)
    x ^= x >> np.uint64(27)
    return ((x % np.uint64(2001)).astype(np.float64) - 1000.0) / 1000.0


def with_hyperplane_signature(
    df: DataFrame,
    vec_col: str,
    planes: int = 16,
    out_col: str = "_hp_sig",
) -> DataFrame:
    """Random-hyperplane LSH sign bits (array<long> of 0/1, length
    ``planes``).  sign(q·p) agreement probability is 1 - angle/π, the
    standard SRP-LSH guarantee.

    Implemented as an Arrow-batched pandas UDF doing ONE numpy matmul per
    batch (vectors × planesᵀ) — the textbook "Python is unavoidable →
    vectorize it" case: the per-element higher-order-expression form runs
    interpreted in Catalyst and benchmarked ~50× slower.  No shuffle; the
    projection is embarrassingly parallel per partition.
    """
    import numpy as np
    import pandas as pd  # noqa: F401  (annotation resolution for pandas_udf)
    from pyspark.sql.functions import pandas_udf

    def _project(vecs: "pd.Series") -> "pd.Series":
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs])
        pm = _plane_matrix(planes, mat.shape[1])
        bits = (mat @ pm.T >= 0).astype(np.int64)
        return pd.Series(list(bits))

    _project.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    project = pandas_udf(_project, "array<long>")
    return df.withColumn(out_col, project(F.col(vec_col)))


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str,
    corpus_vec: str,
    k: int = 10,
    planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """LSH-bucketed approximate top-k: candidates share ≥1 signature band
    with the query; exact cosine re-ranks candidates.

    Unlike :func:`ivf_topk` this needs no cluster column — the corpus
    shuffles once on (band, band-value) and each query touches only its
    colliding buckets.
    """
    rows_per_band = planes // bands
    # flat literal-index band values: higher-order functions over
    # sequence() run interpreted per row (dedup module docstring) —
    # the spelled-out shift/add chain stays in whole-stage codegen
    band_expr = "array(" + ", ".join(
        f"named_struct('band', {b}, 'bv', cast("
        + " + ".join(
            f"shiftleft(element_at(_hp_sig, {b * rows_per_band + i + 1}), {i})"
            for i in range(rows_per_band)
        )
        + " as bigint))"
        for b in range(bands)
    ) + ")"

    def banded(df: DataFrame, idc: str, vecc: str) -> DataFrame:
        # ids only — the corpus-side band explode must not carry the
        # vector (bands× duplication through the bucket join otherwise)
        return (
            with_hyperplane_signature(df, vecc, planes=planes)
            .select(F.col(idc), F.explode(F.expr(band_expr)).alias("bb"))
            .select(idc, F.col("bb.band").alias("band"), F.col("bb.bv").alias("bv"))
        )

    qb = F.broadcast(
        banded(queries, query_id, query_vec).withColumnRenamed(query_id, "_qid")
    )
    cand_ids = (
        banded(corpus, corpus_id, corpus_vec)
        .join(qb, on=["band", "bv"])
        .select("_qid", corpus_id)
        .dropDuplicates(["_qid", corpus_id])
    )
    qv = F.broadcast(
        queries.select(
            F.col(query_id).alias("_qid"), F.col(query_vec).alias("_qvec")
        )
    )
    cand = cand_ids.join(
        corpus.select(corpus_id, corpus_vec), corpus_id
    ).join(qv, "_qid")
    scored = cand.select(
        F.col("_qid").alias(query_id),
        F.col(corpus_id),
        cosine_expr("_qvec", corpus_vec).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cosine", "rank")
    )
