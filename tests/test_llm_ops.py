"""Unit tests for the LLM-data-pipeline operators with planted data —
covering behaviors the oracle queries can't (LSH recall on known
duplicates, frame-sample fan-out, codec registration)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from daisy_spark.operators import dedup as D
from daisy_spark.operators import multimodal as MM
from daisy_spark.operators import similarity as SIM
from daisy_spark.operators import text as TX


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")],
        ["doc_id", "text"],
    )
    out = D.exact_dedup(df, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def _planted_near_dup(spark):
    base = "the quick brown fox jumps over the lazy dog again and again ok"
    near = base.replace("lazy", "sleepy")  # 1-word change
    rows = [(0, base), (1, near)] + [
        (i, f"totally different doc number {i} with words w{i} x{i} y{i} z{i} q{i} r{i} s{i}")
        for i in range(2, 30)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_minhash_finds_planted_near_dup(spark):
    pairs = D.minhash_dedup_pairs(
        _planted_near_dup(spark), "text", "doc_id", threshold=0.5
    ).collect()
    assert {(r.id1, r.id2) for r in pairs} == {(0, 1)}


def test_minhash_dedup_pairs_caches_nothing(spark, spark_jobs):
    pairs = D.minhash_dedup_pairs(
        _planted_near_dup(spark), "text", "doc_id", threshold=0.5
    )
    out, jobs = spark_jobs(lambda: pairs.collect())
    assert {(r.id1, r.id2) for r in out} == {(0, 1)}
    plan = pairs._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert "InMemory" not in plan, plan
    # the signature UDF runs once, and both verify join sides read one
    # reused exchange of the hashed shingles
    assert plan.count("ArrowEvalPython") == 1, plan
    assert plan.count("xxhash64(lambda") == 2, plan
    assert "ReusedExchange" in plan, plan
    assert jobs <= 7, jobs


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta"),
         (2, "unrelated content entirely here now")],
        ["doc_id", "text"],
    )
    h = {r.doc_id: r.simhash_h for r in D.with_simhash(df, "text", "doc_id").collect()}
    assert h[0] == h[1]
    assert h[0] != h[2]


def test_embedding_lsh_dedup_recall(spark):
    import random

    rnd = random.Random(7)
    rows = []
    for i in range(50):
        v = [rnd.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
    # plant a near-duplicate of vector 0 (tiny perturbation)
    dup = [x + 1e-4 for x in rows[0][1]]
    rows.append((99, dup))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = D.embedding_dedup_pairs(
        df, "embedding", "vec_id", threshold=0.999, planes=16, bands=4
    ).collect()
    assert (0, 99) in {(r.id1, r.id2) for r in pairs}


def test_cosine_topk_self_is_nearest(spark):
    rows = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.select(F.col("vec_id").alias("qid"), "embedding").filter("qid = 3")
    out = SIM.cosine_topk(
        q, df, "qid", "vec_id", "embedding", "embedding", k=1
    ).collect()
    assert out[0].vec_id == 3 and abs(out[0].cosine - 1.0) < 1e-9


def test_lsh_ann_includes_exact_match(spark):
    import random

    rnd = random.Random(3)
    rows = [(i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter("vec_id = 5").select(F.col("vec_id").alias("qid"), "embedding")
    out = SIM.lsh_ann_topk(q, df, "qid", "vec_id", "embedding", "embedding", k=3)
    got = out.collect()
    # the query vector itself hashes into its own bucket -> rank 1
    assert got[0].vec_id == 5 and got[0].rank == 1


def test_text_profile_basic(spark):
    df = spark.createDataFrame([(0, "the cat and the hat!!")], ["doc_id", "text"])
    row = TX.text_profile(df, "text", "doc_id").collect()[0]
    assert row.n_tokens == 5
    assert row.n_bpe_tokens == 7  # the, cat, and, the, hat, !, !
    assert row.pred_lang == "en"
    assert row.punct_ratio == pytest.approx(2 / 21, abs=1e-6)


def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta alpha")], ["doc_id", "text"]
    )
    fps = [
        r.fp
        for r in df.select(TX.doc_fingerprint("text").alias("fp")).collect()
    ]
    assert fps[0] != fps[1]


def test_multimodal_decode_and_frame_sample(spark):
    df = spark.createDataFrame([(0, b"x" * 100), (1, None)], ["asset_id", "payload"])
    meta = MM.decode_metadata(df, "payload").collect()
    m0 = {r.asset_id: r.media for r in meta}
    assert m0[0].n_bytes == 100 and m0[0].width == 101 and m0[1] is None

    frames = MM.frame_sample(df, "payload", every_n=1)
    got = frames.collect()
    assert [r.frame_idx for r in got if r.asset_id == 0] == [0]
    assert frames.columns == ["asset_id", "frame_idx", "frame"]


def test_unknown_codec_raises(spark):
    df = spark.createDataFrame([(0, b"")], ["asset_id", "payload"])
    with pytest.raises(NotImplementedError):
        MM.decode_metadata(df, "payload", codec="jpeg")


def test_image_header_codec_parses_real_headers():
    png = (
        b"\x89PNG\r\n\x1a\n" + (13).to_bytes(4, "big") + b"IHDR"
        + (640).to_bytes(4, "big") + (480).to_bytes(4, "big")
        + b"\x08\x06\x00\x00\x00"
    )
    m = MM.image_header_codec(png)
    assert (m["format"], m["width"], m["height"]) == ("png", 640, 480)

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        + b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + (300).to_bytes(2, "big") + (200).to_bytes(2, "big")
    )
    m = MM.image_header_codec(jpeg)
    assert (m["format"], m["width"], m["height"]) == ("jpeg", 200, 300)

    gif = b"GIF89a" + (99).to_bytes(2, "little") + (77).to_bytes(2, "little")
    m = MM.image_header_codec(gif)
    assert (m["format"], m["width"], m["height"]) == ("gif", 99, 77)

    m = MM.image_header_codec(b"not an image at all")
    assert m["format"] == "unknown" and m["width"] is None


def test_jaccard_verify_join_is_not_forced_broadcast(spark):
    """100-TB guard: the exact-Jaccard verify joins must NOT carry a
    broadcast hint.  Candidate volume grows with corpus x dup-rate, so a
    forced broadcast OOMs executors on a duplicate-heavy corpus; the
    plan must stay a shuffle join when Spark can't prove the side small
    (auto-broadcast disabled here to simulate a too-big-to-measure-small
    candidate set — only AQE's runtime measurement may downgrade it)."""
    rows = [(i, f"doc {i} body words w{i} x{i} y{i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    shingled = D.with_shingles(df, "text", k=3).select("doc_id", "shingles")
    cand = spark.createDataFrame([(0, 1), (2, 3)], ["id1", "id2"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = D.jaccard_verify(cand, shingled, "doc_id", threshold=0.0)
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "BroadcastExchange" not in plan, plan
    # and the result is still correct on the candidate pairs
    got = {(r.id1, r.id2) for r in out.collect()}
    assert got == {(0, 1), (2, 3)}
