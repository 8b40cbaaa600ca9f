"""SimHash signature and candidate tests (operators/dedup.py).

The signature is pinned against a plain-Python vote over Spark's own
``xxhash64`` of each token, so the numpy kernel and the JVM hash are
checked together.
"""

import random

from pyspark.sql import functions as F

from daisy_spark.operators import dedup as D

_MASK = (1 << 64) - 1
_WORDS = [
    "alpha", "beta", "gamma", "naïve", "café", "straße", "日本語", "текст",
    "🙂", "é", "x", "a\tb", "0", "ümlaut", "中", "end.",
]


def _python_simhash(hashes):
    """Bit k is set iff more than half of the token hashes have it set."""
    n = len(hashes)
    h = 0
    for k in range(64):
        ones = sum((x & _MASK) >> k & 1 for x in hashes)
        if 2 * ones > n:
            h |= 1 << k
    return h - (1 << 64) if h >> 63 else h


def _random_text(rnd):
    words = [rnd.choice(_WORDS) for _ in range(rnd.randint(1, 40))]
    text = ""
    for w in words:
        text += " " * rnd.randint(1, 4) + w
    if rnd.random() < 0.5:
        text = text.lstrip(" ")
    return text + " " * rnd.randint(0, 3)


def _token_hashes(spark, df):
    toks = df.select(
        "doc_id",
        F.explode(F.expr("filter(split(text, ' +'), t -> t != '')")).alias("t"),
    ).select("doc_id", F.xxhash64("t").alias("h"))
    out = {}
    for r in toks.collect():
        out.setdefault(r.doc_id, []).append(r.h)
    return out


def test_with_simhash_matches_python_vote(spark):
    rnd = random.Random(14)
    rows = [(i, _random_text(rnd)) for i in range(200)]
    rows += [(1000, "solo"), (1001, "  日本語  "), (1002, "🙂")]
    # more than 65,535 equal tokens: every bit of xxhash64('x') gets more
    # votes than a 16-bit counter holds
    rows.append((2000, " ".join(["x"] * 66000 + [rnd.choice(_WORDS) for _ in range(500)])))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = {d: _python_simhash(hs) for d, hs in _token_hashes(spark, df).items()}
    got = {r.doc_id: r for r in D.with_simhash(df, "text", "doc_id").collect()}

    assert set(got) == {d for d, _ in rows}
    for d, h in want.items():
        assert got[d].simhash_h == h, d
        assert got[d].simhash == [(h >> (8 * b)) & 255 for b in range(8)], d


def test_text_without_tokens_hashes_to_zero(spark):
    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "    "), (3, "word")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in D.with_simhash(df, "text", "doc_id").collect()}
    for d in (0, 1, 2):
        assert got[d].simhash_h == 0
        assert got[d].simhash == [0] * 8
    assert got[3].simhash_h != 0


def test_bucket_guard_drops_buckets_over_the_cap(spark):
    rows = [(i, "one two three four five six") for i in range(4)]
    rows.append((9, "entirely unrelated words in this document here"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashed = D.with_simhash(df, "text", "doc_id")

    def pairs(cap):
        cand = D.simhash_candidates(hashed, "doc_id", max_bucket_size=cap)
        return sorted((r.id1, r.id2) for r in cand.collect())

    four = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    assert pairs(None) == four
    assert pairs(4) == four
    # the four equal documents share every bucket, so a cap of 3 drops them
    assert pairs(3) == []


def test_simhash_dedup_pairs_runs_one_signature_pass(spark, spark_jobs):
    rows = [(i, f"shared words across docs number {i % 3} and more") for i in range(12)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = D.simhash_dedup_pairs(df, "text", "doc_id", max_hamming=7)
    out, jobs = spark_jobs(lambda: pairs.collect())
    assert sorted((r.id1, r.id2) for r in out) == [
        (a, b) for a in range(12) for b in range(a + 1, 12) if a % 3 == b % 3
    ]
    plan = pairs._jdf.queryExecution().executedPlan().executedPlan().toString()
    # the signature UDF runs once: both join sides read one reused exchange,
    # which also serves the bucket guard's window
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "ReusedExchange" in plan, plan
    assert jobs <= 8, jobs


def test_with_simhash_survives_a_new_jvm(spark, spark_manager):
    """The UDF must not outlive its JVM: a signature taken before a full
    JVM restart and one taken after are equal.  Last in this module,
    since the module's ``spark`` is stale once it has run."""
    rows = [(0, "alpha beta gamma"), (1, "delta")]
    before = D.with_simhash(
        spark.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id"
    ).orderBy("doc_id").collect()
    spark_manager.recycle()
    fresh = spark_manager.get()
    after = D.with_simhash(
        fresh.createDataFrame(rows, "doc_id long, text string"), "text", "doc_id"
    ).orderBy("doc_id").collect()
    assert after == before
