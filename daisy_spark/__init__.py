"""daisy_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference streaming time-series DBMS
(datablade-io/daisy, a ClickHouse-21.5-derived engine).

Architecture (Spark-first, NOT a port):

- ``session``    SparkSession factory + settings shim
- ``catalog``    table specs (engine semantics) and the per-session parquet
                 schema resolver
- ``functions``  Spark implementations of reference functions that the
                 dialect's name -> Spark mapping does not hold as a
                 template: Column builders, time-series aggregates,
                 exact-algorithm UDFs
- ``operators``  macro-operators Spark lacks natively (ASOF join, ANY join,
                 FINAL normalization, LIMIT BY, WITH FILL, WITH TOTALS,
                 topK, dedup, similarity search, text analysis, multimodal)
- ``plans``      SQL dialect front-end (reference SQL / pipe syntax ->
                 Spark SQL); its ``FUNC_MAP`` is the one reference
                 function name -> Spark mapping
- ``streaming``  batch + Structured Streaming ingest with idempotent-key
                 dedup and granularity partitioning
- ``queries`` / ``queries_llm``  the oracle-checked query suite

Everything declarative goes through the DataFrame API so Catalyst handles
pushdown, pruning, join strategy, and AQE; Python-side logic is restricted
to plan construction (never per-row execution on hot paths).
"""

from daisy_spark.session import get_spark  # noqa: F401
from daisy_spark.catalog import TableSpec  # noqa: F401

__version__ = "0.1.0"
