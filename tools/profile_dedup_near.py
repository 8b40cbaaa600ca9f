"""Stage-by-stage timing of the dedup_near (MinHash) pipeline at sf0.1.

Each leg is materialized with the noop sink (guide §1.4) so the numbers
decompose the query's cost: shingle+hash, signature, candidates, full
verify.  Measurement-only tool.
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from daisy_spark.catalog import load_table  # noqa: E402
from daisy_spark.operators import dedup as D  # noqa: E402
from daisy_spark.session import get_spark  # noqa: E402

from bench_one import hot_noop  # noqa: E402  (from this script's directory)


def timeit(spark, label, df_fn, reps=3):
    ts = hot_noop(spark, label, df_fn, reps)
    print(f"{label:28s} med={statistics.median(ts):.3f}  " +
          " ".join(f"{t:.3f}" for t in ts), flush=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_dedup_near")
    spark.sparkContext.setLogLevel("ERROR")
    d = load_table(spark, sf_dir, "documents")

    def shingled():
        return (
            D.with_shingles(d, "text", k=3)
            .select(
                "doc_id",
                F.array_distinct(
                    F.transform(F.col("shingles"), lambda s: F.xxhash64(s))
                ).alias("hshingles"),
            )
        )

    def sig():
        return D.minhash_signature_pandas(
            shingled(), "doc_id", shingle_col="hshingles", num_hashes=64
        )

    def cand():
        return D.minhash_candidates(
            sig(), "doc_id", bands=16, rows_per_band=4,
            max_bucket_size=1000,
        )

    def full():
        return D.minhash_dedup_pairs(
            d, text_col="text", id_col="doc_id", threshold=0.7
        )

    timeit(spark, "1 shingle+hash", shingled)
    timeit(spark, "2 signature (incl leg 1)", sig)
    timeit(spark, "3 candidates (incl 1-2)", cand)
    timeit(spark, "4 full pipeline", full)
    spark.stop()


if __name__ == "__main__":
    main()
