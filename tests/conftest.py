import itertools
import logging
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("DAISY_TEST_SF_DIR", "/root/testdata/sf0.001")

# py4j finalizers of objects created on a recycled (dead) JVM log noisy
# protocol errors; they are harmless by construction (the JVM is gone).
logging.getLogger("py4j").setLevel(logging.CRITICAL)


class SparkManager:
    """Owns the test SparkSession and can recycle the whole JVM.

    Four rounds of evidence (r5-r8) showed the single shared test JVM
    dies deterministically after ~1000 reference-corpus cases
    (OneRowRelationExec.session() null -> spills into deleted blockmgr
    dirs -> ConnectionRefused cascade), and three rounds of in-JVM
    mitigation (heap 8g->20g, -Xss32m, ANTLR DFA bounds, alias-expansion
    cap, retained-UI caps) never moved the wall.  The fix is to stop
    sharing one JVM across the whole run: the corpus suite recycles the
    JVM every few hundred cases (see test_reference_corpus._CHUNK), and
    every other module just grabs the currently-live session.

    recycle() is a FULL teardown — SparkSession.stop() only stops the
    SparkContext and leaves the JVM (with its process-global state:
    ANTLR prediction DFAs, codegen cache, status stores) running, so we
    also shut down the py4j gateway and terminate the JVM process.
    """

    def __init__(self):
        self._spark = None

    def _alive(self) -> bool:
        try:
            return not self._spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            return False

    def get(self):
        if self._spark is not None and not self._alive():
            self._spark = None
        if self._spark is None:
            self._spark = self._build()
        return self._spark

    def recycle(self) -> None:
        from pyspark import SparkContext

        if self._spark is not None:
            try:
                self._spark.stop()
            except Exception:
                pass
            self._spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            try:
                gw.shutdown()
            except Exception:
                pass
            # pyspark's JVM exits when the PYTHON process exits (it waits
            # on stdin), not when the gateway closes — terminate it so
            # recycled JVMs don't pile up their (stopped) 20g heaps.
            if proc is not None:
                try:
                    proc.terminate()
                    proc.wait(timeout=30)
                except Exception:
                    pass
        SparkContext._gateway = None
        SparkContext._jvm = None

    def _build(self):
        # Deliberately a VANILLA session (not daisy_spark.session.get_spark):
        # the correctness driver builds its own bare SparkSession, so every
        # conf the engine needs (e.g. nanosAsLong for the events parquet)
        # must be set at runtime by the catalog/query layer, and the tests
        # must prove that works.  Only test-speed knobs here.
        from pyspark.sql import SparkSession

        s = (
            SparkSession.builder.appName("daisy_spark_tests")
            .master("local[8]")
            .config("spark.sql.shuffle.partitions", "8")
            .config("spark.ui.enabled", "false")
            # corpus cases materialize up to ~10M-row script tables
            # (e.g. 01079_order_by_pk) with 2-4 GB transient row buffers
            .config("spark.driver.memory", "20g")
            # ANTLR full-context prediction on large generated statements
            # needs more than the 1m default thread stack
            .config("spark.driver.extraJavaOptions", "-Xss32m")
            # bound retained per-execution state (plan strings of generated
            # queries are large); UI is off, these only feed the status store
            .config("spark.sql.ui.retainedExecutions", "50")
            .config("spark.ui.retainedJobs", "100")
            .config("spark.ui.retainedStages", "200")
            .config("spark.ui.retainedTasks", "1000")
            .getOrCreate()
        )
        s.sparkContext.setLogLevel("ERROR")
        return s


_MANAGER = SparkManager()


@pytest.fixture(scope="session")
def spark_manager():
    return _MANAGER


@pytest.fixture(scope="module")
def spark(spark_manager):
    """The currently-live shared SparkSession.

    Module-scoped so each test module re-resolves it and sees the live
    session even if an earlier module (the corpus suite) recycled the
    JVM.  Within one module the session is stable — only the corpus
    module recycles, and it does so through spark_manager directly.
    """
    return spark_manager.get()


_JOB_GROUPS = itertools.count()


@pytest.fixture
def spark_jobs(spark):
    """``spark_jobs(fn)`` -> ``(fn(), number of Spark jobs fn started)``:
    ``fn`` runs in a job group of its own, counted from the status
    tracker.  The job group is the SparkContext's, so ``fn`` may use any
    session of it."""
    sc = spark.sparkContext

    def run(fn):
        gid = f"test-jobs:{next(_JOB_GROUPS)}"
        sc.setJobGroup(gid, gid)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the listener bus: drain it, or a job
        # that just ran may not be counted yet
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(gid))

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    """DuckDB connection with the test tables registered as views."""
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con
