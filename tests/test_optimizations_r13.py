"""Same-output regression tests for the round-13 optimizations.

Every rewrite here must keep the declared queries' results identical —
these tests pin the equivalences the optimizations rely on.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# numpy xxhash64 replica (functions/nphash.py)
# ---------------------------------------------------------------------------


def test_nphash_matches_spark_xxhash64_longs(spark):
    from daisy_spark.functions.nphash import xxhash64_longs

    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.integers(-(2**63), 2**63 - 1, size=5000, dtype=np.int64),
            np.array(
                [0, 1, -1, 2**63 - 1, -(2**63), 42, -42, 7919], dtype=np.int64
            ),
        ]
    )
    df = spark.createDataFrame(
        [(int(v),) for v in vals], "v long"
    ).select("v", F.xxhash64("v").alias("h1"))
    got = {r["v"]: r["h1"] for r in df.collect()}
    mine = xxhash64_longs(vals)
    for v, m in zip(vals, mine):
        assert got[int(v)] == int(m), f"xxhash64({v}) mismatch"


def test_nphash_matches_spark_xxhash64_two_args(spark):
    from daisy_spark.functions.nphash import xxhash64_longs

    rng = np.random.default_rng(11)
    a = rng.integers(-(2**62), 2**62, size=2000, dtype=np.int64)
    b = rng.integers(0, 64, size=2000, dtype=np.int64)
    df = spark.createDataFrame(
        [(int(x), int(y)) for x, y in zip(a, b)], "a long, b long"
    ).select("a", "b", F.xxhash64("a", "b").alias("h"))
    got = [r["h"] for r in df.orderBy("a", "b").collect()]
    order = np.lexsort((b, a))
    mine = xxhash64_longs(a[order], b[order])
    assert got == [int(m) for m in mine]


def test_nphash_int_literal_family(spark):
    """xxhash64(long_col, lit(i)) — the MinHash family construction —
    hashes the int literal through XXH64's 4-byte path."""
    import numpy as np

    from daisy_spark.functions.nphash import hash_int, hash_long

    rng = np.random.default_rng(13)
    h = rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64)
    df = spark.createDataFrame([(int(v),) for v in h], "h long")
    for i in (0, 1, 5, 63):
        got = {
            r["h"]: r["x"]
            for r in df.select(
                "h", F.xxhash64("h", F.lit(i)).alias("x")
            ).collect()
        }
        mine = hash_int(
            np.uint64(i), hash_long(h.view(np.uint64), np.uint64(42))
        ).view(np.int64)
        for v, m in zip(h, mine):
            assert got[int(v)] == int(m)


# ---------------------------------------------------------------------------
# embedding dedup verify == numpy cosine (operators/dedup.py)
# ---------------------------------------------------------------------------


def _verify_embedding_dedup(e, threshold):
    """Run embedding_dedup_pairs on ``e`` and check every emitted score
    against numpy's cosine over the same float32 vectors."""
    from daisy_spark.operators.dedup import embedding_dedup_pairs

    got = embedding_dedup_pairs(
        e, vec_col="embedding", id_col="vec_id", threshold=threshold
    ).collect()
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in e.collect()
    }
    for r in got:
        a, b = vecs[r["id1"]], vecs[r["id2"]]
        ref = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert r["cosine"] >= threshold
        assert math.isclose(r["cosine"], ref, abs_tol=1e-9)
    return {(r["id1"], r["id2"]) for r in got}


def test_embedding_dedup_pairs_scores_match_oracle_form(spark, sf_dir):
    """The raw-vector fold verify must reproduce the oracle's
    list_cosine_similarity (round 6) on every emitted pair.

    The generated tables hold no pair above 0.9, so a second input
    plants some: base vectors, near-copies (cosine >= 0.99) and exact
    copies.  Every exact copy must come back.  Two zero vectors share a
    bucket but have no cosine, so they must not pair up."""
    from daisy_spark.catalog import load_table

    _verify_embedding_dedup(load_table(spark, sf_dir, "embeddings"), 0.9)

    rng = np.random.default_rng(14)
    rows, exact = [], set()
    for i, v in enumerate(rng.standard_normal((6, 32))):
        near = v + 0.01 * rng.standard_normal(32)
        assert v @ near / (np.linalg.norm(v) * np.linalg.norm(near)) >= 0.99
        rows += [(100 * i, v), (100 * i + 1, near), (100 * i + 2, v)]
        exact.add((100 * i, 100 * i + 2))
    rows += [(900, np.zeros(32)), (901, np.zeros(32))]
    planted = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>",
    ).repartition(3)
    pairs = _verify_embedding_dedup(planted, 0.9)
    assert pairs
    assert exact <= pairs
    assert not {a for pair in pairs for a in pair} & {900, 901}


# ---------------------------------------------------------------------------
# numpy MinHash signature == explode+groupBy signature (operators/dedup.py)
# ---------------------------------------------------------------------------


def test_minhash_signature_pandas_byte_identical(spark, sf_dir):
    from daisy_spark.catalog import load_table
    from daisy_spark.operators.dedup import (
        minhash_signature_pandas,
        with_minhash_signature,
        with_shingles,
    )

    d = load_table(spark, sf_dir, "documents")
    shingled = with_shingles(d, "text", k=3).select(
        "doc_id",
        F.array_distinct(
            F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
        ).alias("hshingles"),
    )
    old = {
        r["doc_id"]: r["minhash"]
        for r in with_minhash_signature(
            shingled, "doc_id", shingle_col="hshingles", num_hashes=64
        ).collect()
    }
    new = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signature_pandas(
            shingled, "doc_id", shingle_col="hshingles", num_hashes=64
        ).collect()
    }
    assert old.keys() == new.keys()
    for k in old:
        assert old[k] == new[k], f"signature mismatch for doc {k}"


def test_minhash_signature_pandas_empty_and_tiny_arrays(spark):
    from daisy_spark.operators.dedup import (
        minhash_signature_pandas,
        with_minhash_signature,
    )

    df = spark.createDataFrame(
        [(1, [7]), (2, []), (3, [5, -9, 2**62]), (4, [])],
        "doc_id int, hshingles array<long>",
    )
    old = {
        r["doc_id"]: r["minhash"]
        for r in with_minhash_signature(
            df, "doc_id", shingle_col="hshingles", num_hashes=8
        ).collect()
    }
    new = {
        r["doc_id"]: r["minhash"]
        for r in minhash_signature_pandas(
            df, "doc_id", shingle_col="hshingles", num_hashes=8
        ).collect()
    }
    assert old == new


# ---------------------------------------------------------------------------
# logistic trainer: NULL features must not crash nor shift the model
# ---------------------------------------------------------------------------


def test_logistic_regression_null_features(spark):
    from daisy_spark.functions.stats import logistic_regression_df

    rows = [(float(i), 1.0 if i > 50 else 0.0) for i in range(100)]
    clean = spark.createDataFrame(rows, "x double, y double")
    w0, b0 = logistic_regression_df(clean, ["x"], "y")

    noisy = clean.unionByName(
        spark.createDataFrame(
            [(None, 1.0), (None, 0.0), (3.0, None)], "x double, y double"
        )
    )
    w1, b1 = logistic_regression_df(noisy, ["x"], "y")
    assert w1 == pytest.approx(w0)
    assert b1 == pytest.approx(b0)


def test_logistic_regression_all_null_feature(spark):
    from daisy_spark.functions.stats import logistic_regression_df

    df = spark.createDataFrame(
        [(None, 1.0), (None, 0.0)], "x double, y double"
    )
    # degenerate but must not raise (zero usable rows -> zero model)
    w, b = logistic_regression_df(df, ["x"], "y")
    assert all(math.isfinite(v) for v in w + [b])


# ---------------------------------------------------------------------------
# doc_fingerprint struct-fold == zip_with+sequence form (operators/text.py)
# ---------------------------------------------------------------------------


def test_doc_fingerprint_struct_fold_byte_identical(spark, sf_dir):
    from daisy_spark.catalog import load_table
    from daisy_spark.operators.text import doc_fingerprint

    def fp_old(text_col, modulus=2147483647):
        toks = f"filter(split({text_col}, ' +'), t -> t != '')"
        return F.expr(
            f"if(size({toks}) = 0, 0L, "
            f"pmod(aggregate(zip_with({toks}, sequence(1, size({toks})), "
            f"(t, i) -> cast(i as bigint) * (length(t) * 7919 + ascii(substring(t, 1, 1)))), "
            f"0L, (acc, x) -> acc + x), {modulus}))"
        )

    edge = spark.createDataFrame(
        [("",), (" ",), ("one",), ("  two   tokens  ",), ("a b c d e",),
         ("Ü ünïcode tökens",)],
        "text string",
    )
    corpus = load_table(spark, sf_dir, "documents").select("text")
    for df in (edge, corpus):
        bad = df.select(
            fp_old("text").alias("a"), doc_fingerprint("text").alias("b")
        ).filter("a <> b OR (a IS NULL) <> (b IS NULL)").count()
        assert bad == 0


# ---------------------------------------------------------------------------
# stopword regex hardening (operators/text.py)
# ---------------------------------------------------------------------------


def test_stopword_count_token_semantics(spark):
    from daisy_spark.operators.text import _stopword_count_sql

    docs = [
        ("the cat and the hat", 3),       # 'the' x2 + 'and'
        ("the", 1),                        # whole doc is a stopword
        ("the\n", 0),                      # trailing newline: not a token match
        ("and the", 2),                    # adjacent matches share a separator
        ("lathe theory band", 0),          # substrings must not count
        ("", 0),
    ]
    df = spark.createDataFrame(docs, "text string, want int")
    expr = _stopword_count_sql("text", ("the", "and", "of", "is", "to"))
    got = df.select("want", F.expr(expr).alias("got")).collect()
    for r in got:
        assert r["got"] == r["want"]


def test_stopword_count_escapes_metachars(spark):
    from daisy_spark.operators.text import _stopword_count_sql

    df = spark.createDataFrame(
        [("a c++ token (x) 'q' here", 1)], "text string, want int"
    )
    # regex metachars and a quoted word must be treated literally
    expr = _stopword_count_sql("text", ("c++", "(x)", "'q'"))
    got = df.select(F.expr(expr).alias("got")).collect()[0]["got"]
    assert got == 3


# ---------------------------------------------------------------------------
# final_collapsing / final_versioned: single-scan explode feed == the
# previous union-of-filtered-scans feed (queries_ext.py)
# ---------------------------------------------------------------------------


def test_final_fused_feed_matches_union_feed(spark, sf_dir):
    from daisy_spark.catalog import load_table
    from daisy_spark.operators import final as FIN

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    # old 3-scan union feed
    v1_plus = o.withColumn("sign", F.lit(1)).withColumn("ver", F.lit(1))
    v1_minus = (
        o.filter(F.col("o_orderkey") % 2 == 0)
        .withColumn("sign", F.lit(-1)).withColumn("ver", F.lit(1))
    )
    v2_plus = (
        o.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("sign", F.lit(1)).withColumn("ver", F.lit(2))
    )
    union_feed = v1_plus.unionByName(v1_minus).unionByName(v2_plus)
    old = FIN.versioned_collapsing_final(
        union_feed, ["o_orderkey"], "sign", "ver"
    ).select("o_orderkey", "ver")

    from daisy_spark.queries_ext import q_final_versioned

    new = q_final_versioned(spark, sf_dir).select("o_orderkey", "ver")
    a = sorted(tuple(r) for r in old.collect())
    b = sorted(tuple(r) for r in new.collect())
    assert a == b and len(a) > 0


def test_final_collapsing_fused_matches_union(spark, sf_dir):
    from daisy_spark.catalog import load_table
    from daisy_spark.operators import final as FIN

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    plus = o.withColumn("sign", F.lit(1))
    minus = (
        o.filter(F.col("o_orderkey") % 2 == 0).withColumn("sign", F.lit(-1))
    )
    old = FIN.collapsing_final(
        plus.unionByName(minus), ["o_orderkey"], "sign"
    ).agg(
        F.count(F.lit(1)).alias("survivors"),
        F.sum("o_orderkey").alias("key_sum"),
    )

    from daisy_spark.queries_ext import q_final_collapsing

    new = q_final_collapsing(spark, sf_dir)
    assert [tuple(r) for r in old.collect()] == [
        tuple(r) for r in new.collect()
    ]


# ---------------------------------------------------------------------------
# rank_stats: fused single-lineage == two-pipeline join composition
# ---------------------------------------------------------------------------


def test_rank_stats_fused_matches_two_pipeline(spark, sf_dir):
    from daisy_spark.catalog import load_table
    from daisy_spark.functions import stats as ST
    from daisy_spark.queries_stats import q_rank_stats

    e = load_table(spark, sf_dir, "events")
    e2 = e.withColumn("s", (F.col("user_id") % 2).cast("int"))
    mw = ST.mann_whitney_u_test_df(e2, "value", "s", ["event_type"])
    rc = ST.rank_corr_df(e, "value", "user_id", ["event_type"])
    old = mw.join(rc, "event_type").select(
        "event_type",
        F.round("u0", 2).alias("u0"),
        F.round("u1", 2).alias("u1"),
        F.round(F.col("z"), 6).alias("z"),
        F.round(F.col("rank_corr"), 6).alias("rank_corr"),
    )
    a = sorted(tuple(r) for r in old.collect())
    b = sorted(tuple(r) for r in q_rank_stats(spark, sf_dir).collect())
    assert a == b and len(a) > 0


def test_avg_rank_range_frame_ties(spark):
    from daisy_spark.functions.stats import avg_rank

    # value 5.0 appears 3x -> ranks 2,3,4 average 3.0; singletons keep
    # their integer rank
    rows = [("g", 1.0), ("g", 5.0), ("g", 5.0), ("g", 5.0), ("g", 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = sorted(
        (r["v"], r["ar"])
        for r in df.withColumn("ar", avg_rank("v", ["g"])).collect()
    )
    assert got == [(1.0, 1.0), (5.0, 3.0), (5.0, 3.0), (5.0, 3.0), (9.0, 5.0)]
