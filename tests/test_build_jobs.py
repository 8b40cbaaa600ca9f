"""Building a registry query starts no Spark job once its tables' schemas
are known to the session: the schema resolver (catalog.read_parquet)
serves every parquet read of a second build from its per-session map."""

from __future__ import annotations

import pytest

from daisy_spark.queries import QUERIES

#: builders that start jobs by design, with the reason
EAGER_BUILDERS = {
    # the Newton fit of the coefficients runs while the query is built
    "logistic_regression",
}


@pytest.mark.parametrize("name", sorted(set(QUERIES) - EAGER_BUILDERS))
def test_second_build_starts_no_job(name, spark, sf_dir, spark_jobs):
    QUERIES[name](spark, sf_dir)
    assert spark_jobs(lambda: QUERIES[name](spark, sf_dir))[1] == 0


@pytest.mark.parametrize("name", sorted(EAGER_BUILDERS))
def test_eager_builder_still_starts_jobs(name, spark, sf_dir, spark_jobs):
    # an allow-listed builder that became lazy must leave the list
    QUERIES[name](spark, sf_dir)
    assert spark_jobs(lambda: QUERIES[name](spark, sf_dir))[1] > 0
