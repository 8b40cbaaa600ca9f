"""Round-12 optimization regression tests: every rewrite that changed an
operator's internals is pinned to the semantics of the form it replaced
(same-output proofs, not performance assertions).
"""

import pyspark.sql.functions as F
import pytest

from daisy_spark.operators import dedup as D
from daisy_spark.operators import final as FIN
from daisy_spark.operators import text as TX


EDGE_DOCS = [
    (0, ""),
    (1, " "),
    (2, "a"),
    (3, "a b"),
    (4, "a b c"),
    (5, "a b c d e"),
    (6, "x  y   z w"),
    (7, " lead trail "),
    (8, "the to to  to and."),
    (9, "der die und the of is"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(EDGE_DOCS, ["doc_id", "text"])


def test_zipwith_shingles_match_transform_slice_form(docs):
    """with_shingles' zip_with chain must be byte-identical to the
    transform(sequence)/slice form it replaced, for several k and the
    edge docs (empty, multi-space, shorter-than-k)."""
    for k in (2, 3, 4):
        toks = "split(text, ' +')"
        old = docs.withColumn(
            "sh",
            F.expr(
                f"array_distinct(transform(sequence(0, greatest(size({toks}) - {k}, 0)), "
                f"i -> concat_ws(' ', slice({toks}, i + 1, {k}))))"
            ),
        )
        new = D.with_shingles(docs, "text", out_col="sh", k=k)
        got = {r.doc_id: r.sh for r in new.collect()}
        want = {r.doc_id: r.sh for r in old.collect()}
        assert got == want, f"k={k}"


def test_text_closed_forms_match_hof_forms(docs):
    """token count / avg token length / stopword ratio closed forms ==
    the interpreted filter/aggregate forms they replaced."""
    sw = ("the", "and", "of", "is", "to")
    sw_sql = ", ".join(f"'{w}'" for w in sw)
    old = docs.select(
        "doc_id",
        F.expr("size(filter(split(text, ' +'), t -> t != ''))").alias("nt"),
        F.expr(
            "aggregate(filter(split(text, ' +'), t -> t != ''), cast(0 as double), "
            "(acc, t) -> acc + length(t), "
            "acc -> acc / greatest(size(filter(split(text, ' +'), t -> t != '')), 1))"
        ).alias("awl"),
        F.expr(
            f"size(filter(split(text, ' +'), t -> array_contains(array({sw_sql}), t))) "
            "/ cast(greatest(size(filter(split(text, ' +'), t -> t != '')), 1) as double)"
        ).alias("swr"),
    ).orderBy("doc_id").collect()
    new = docs.select(
        "doc_id",
        TX.token_count("text").alias("nt"),
        TX.avg_token_length("text").alias("awl"),
        TX.stopword_ratio("text", sw).alias("swr"),
    ).orderBy("doc_id").collect()
    assert new == old


def test_jaccard_verify_prehashed_equals_string_path(spark):
    """jaccard_verify over pre-hashed (long) shingle arrays must return
    exactly what the string path returns."""
    rows = [(i, f"w{i % 3} common words here plus w{i}") for i in range(12)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    shingled = D.with_shingles(df, "text", k=3).select("doc_id", "shingles")
    hashed = shingled.select(
        "doc_id",
        F.expr(
            "array_distinct(transform(shingles, s -> xxhash64(s)))"
        ).alias("hshingles"),
    )
    cand = spark.createDataFrame(
        [(i, j) for i in range(12) for j in range(i + 1, 12)], ["id1", "id2"]
    )
    a = sorted(
        map(tuple, D.jaccard_verify(cand, shingled, "doc_id", threshold=0.1).collect())
    )
    b = sorted(
        map(
            tuple,
            D.jaccard_verify(
                cand, hashed, "doc_id", shingle_col="hshingles", threshold=0.1
            ).collect(),
        )
    )
    assert a == b and a  # non-empty so the test has teeth


def _window_collapsing_reference(spark, df, key, sign):
    """The pre-r12 window-form collapsing FINAL (kept as the oracle for
    the aggregation rewrite)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*key)
    out = df.withColumn("__s", F.sum(sign).over(w))
    return (
        out.filter((F.col("__s") > 0) & (F.col(sign) > 0))
        .drop("__s")
        .dropDuplicates(list(key))
    )


def test_collapsing_final_agg_matches_window_form(spark):
    # payload rows identical per key, so the representative choice is
    # deterministic and the two forms must agree exactly
    rows = []
    for k in range(30):
        rows.append((k, float(k) * 2.0, 1))
        if k % 2 == 0:
            rows.append((k, float(k) * 2.0, -1))
        if k % 5 == 0:
            rows.append((k, float(k) * 2.0, 1))  # unbalanced extra +1
    df = spark.createDataFrame(rows, ["k", "payload", "sign"])
    got = sorted(map(tuple, FIN.collapsing_final(df, ["k"], "sign").collect()))
    want = sorted(
        map(tuple, _window_collapsing_reference(spark, df, ["k"], "sign").collect())
    )
    assert got == want


def test_versioned_collapsing_agg_matches_window_form(spark):
    from pyspark.sql import Window

    rows = []
    for k in range(20):
        rows.append((k, "a", 1, 1))
        if k % 2 == 0:
            rows.append((k, "a", -1, 1))
        if k % 3 == 0:
            rows.append((k, "b", 1, 2))
    df = spark.createDataFrame(rows, ["k", "payload", "sign", "ver"])

    w = Window.partitionBy("k", "ver")
    survivors = (
        df.withColumn("__s", F.sum("sign").over(w))
        .filter((F.col("__s") > 0) & (F.col("sign") > 0))
        .drop("__s")
    )
    want = sorted(
        map(tuple, FIN.replacing_final(survivors, ["k"], "ver").collect())
    )
    got = sorted(
        map(
            tuple,
            FIN.versioned_collapsing_final(df, ["k"], "sign", "ver").collect(),
        )
    )
    assert got == want


def test_collapsing_final_sign_only_fast_path(spark):
    """Sign-only tables take the pure-primitive aggregation path; the
    result must still match the general definition."""
    rows = [(k, 1) for k in range(10)] + [(k, -1) for k in range(0, 10, 2)]
    df = spark.createDataFrame(rows, ["k", "sign"])
    got = sorted(map(tuple, FIN.collapsing_final(df, ["k"], "sign").collect()))
    assert got == [(k, 1) for k in range(1, 10, 2)]

    vrows = [(k, 1, 1) for k in range(10)]
    vrows += [(k, -1, 1) for k in range(0, 10, 2)]
    vrows += [(k, 1, 2) for k in range(0, 10, 3)]
    vdf = spark.createDataFrame(vrows, ["k", "sign", "ver"])
    got = sorted(
        map(
            tuple,
            FIN.versioned_collapsing_final(vdf, ["k"], "sign", "ver")
            .select("k", "ver", "sign")
            .collect(),
        )
    )
    want = sorted(
        [(k, 2, 1) for k in range(0, 10, 3)]
        + [(k, 1, 1) for k in range(1, 10, 2) if k % 3 != 0]
    )
    assert got == want


def test_logistic_histogram_trainer_generalizes(spark):
    """Two-feature problem through the binned-cell trainer: separable
    boundary recovered (acc > 0.95) with correctly-signed weights."""
    from daisy_spark.functions import stats as ST

    df = spark.range(1000).select(
        (F.col("id") % 40).cast("double").alias("x1"),
        ((F.col("id") * 7) % 29).cast("double").alias("x2"),
    )
    df = df.withColumn("y", ((F.col("x1") + 2 * F.col("x2")) > 45).cast("int"))
    w, b = ST.logistic_regression_df(df, ["x1", "x2"], "y")
    p = ST.logistic_predict(w, b, ["x1", "x2"])
    acc = df.agg(
        F.avg(((p > 0.5).cast("int") == F.col("y")).cast("double"))
    ).collect()[0][0]
    assert acc > 0.95
    assert w[0] > 0 and w[1] > 0
