"""Session set-up (session.py): testdata view registration from Parquet
footers, and the Spark Connect shape of a session (no sparkContext)."""

import ast
import gc
import os
import weakref
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from aw3d30_parquet_spark import session
from aw3d30_parquet_spark.session import TABLES, register_views
from tests.conftest import SF_SMOKE, SF_T2

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BUNDLED_SF_DIRS = (
    os.path.join(ROOT, "perfbench", "data", "sf0.001"),
    os.path.join(ROOT, "perfbench", "data", "sf0.01"),
    SF_SMOKE,
    SF_T2,
    os.path.join(os.path.dirname(SF_SMOKE), "sf0.1"),
)


def _job_ids(spark) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup())


def test_register_views_runs_no_spark_job(spark):
    """Registration reads each schema from the file's Parquet footer on
    the driver; Spark's schema inference would run one job per table."""
    fresh = spark.newSession()
    before = _job_ids(spark)
    register_views(fresh, SF_SMOKE)
    assert _job_ids(spark) == before
    assert {t.name for t in fresh.catalog.listTables()} >= set(TABLES)


@pytest.mark.parametrize("sf_dir", BUNDLED_SF_DIRS)
def test_footer_schemas_equal_spark_inference(spark, sf_dir):
    """Every bundled table's view has exactly the schema Spark's own
    inference gives the file (names, types, nullability, metadata)."""
    fresh = spark.newSession()
    register_views(fresh, sf_dir)
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        assert os.path.isfile(path)
        assert fresh.table(name).schema == fresh.read.parquet(path).schema, name


def test_footer_types_spark_reads_differently_fall_back_to_inference(
    spark, tmp_path
):
    """A footer with INT96, a nested TIMESTAMP(NANOS), a duration or an
    unsigned int reads the way Spark infers it, through inference, and a
    table stored as a directory of part files is inferred too."""
    columns = {
        "int96": pa.table({"t": pa.array([1, 2], pa.timestamp("ns"))}),
        "nested_nanos": pa.table(
            {"t": pa.array([[1], [2]], pa.list_(pa.timestamp("ns")))}
        ),
        "duration": pa.table({"d": pa.array([1, 2], pa.duration("us"))}),
        "unsigned": pa.table({"u": pa.array([1, 2], pa.uint32())}),
    }
    for table, data in columns.items():
        sf_dir = tmp_path / table
        sf_dir.mkdir()
        pq.write_table(
            data,
            sf_dir / "region.parquet",
            version="2.6",
            use_deprecated_int96_timestamps=table == "int96",
        )
        path = str(sf_dir / "region.parquet")
        assert session._footer_schema(path) is None, table
        fresh = spark.newSession()
        register_views(fresh, str(sf_dir))
        assert fresh.table("region").schema == fresh.read.parquet(path).schema
    sf_dir = tmp_path / "directory"
    spark.read.parquet(f"{SF_SMOKE}/nation.parquet").write.parquet(
        str(sf_dir / "nation.parquet")
    )
    fresh = spark.newSession()
    register_views(fresh, str(sf_dir))
    assert fresh.table("nation").schema == spark.read.parquet(
        f"{SF_SMOKE}/nation.parquet"
    ).schema
    assert fresh.table("nation").count() == 25


def test_nanos_events_register_through_micros_view(spark, tmp_path):
    """An ``events`` file whose ``ts`` is TIMESTAMP(NANOS) reads as bigint
    (nanosAsLong) into ``events_raw``; the ``events`` view truncates it to
    TIMESTAMP_NTZ micros with integer ``div``, as DuckDB does."""
    micros = pq.read_table(f"{SF_SMOKE}/events.parquet")
    ts_us = micros.column("ts").cast(pa.int64())
    # a sub-microsecond remainder the truncation must drop
    ts_ns = pc.add(pc.multiply(ts_us, 1000), 789)
    nanos = micros.set_column(
        micros.schema.get_field_index("ts"),
        "ts",
        ts_ns.cast(pa.timestamp("ns")),
    )
    sf_dir = tmp_path / "sf_nanos"
    sf_dir.mkdir()
    pq.write_table(nanos, sf_dir / "events.parquet", version="2.6")
    ts_col = pq.read_metadata(sf_dir / "events.parquet").schema.column(
        micros.schema.get_field_index("ts")
    )
    assert ts_col.physical_type == "INT64"
    assert '"timeUnit": "nanoseconds"' in ts_col.logical_type.to_json()

    fresh = spark.newSession()
    register_views(fresh, str(sf_dir))
    assert dict(fresh.table("events_raw").dtypes)["ts"] == "bigint"
    assert dict(fresh.table("events").dtypes)["ts"] == "timestamp_ntz"
    mismatched = fresh.sql(
        """
        SELECT count(*) FROM events e JOIN events_raw r USING (event_id)
        WHERE e.ts IS DISTINCT FROM
              CAST(timestamp_micros(r.ts div 1000) AS TIMESTAMP_NTZ)
           OR r.ts % 1000 != 789
        """
    ).first()[0]
    assert mismatched == 0
    assert fresh.table("events").count() == micros.num_rows


def test_registration_memo_holds_no_dead_session(spark):
    """The (session → sf_dir) memo holds sessions weakly: a dropped
    session and its JVM state can be collected."""
    fresh = spark.newSession()
    register_views(fresh, SF_SMOKE)
    assert session._REGISTERED.get(fresh) == SF_SMOKE
    ref = weakref.ref(fresh)
    del fresh
    # PySpark's RDD.toDF patch holds the most recently constructed
    # session; constructing another moves that reference off ``fresh``
    spark.newSession()
    gc.collect()
    assert ref() is None


class _ConnectShapedSession:
    """A real session seen through the Spark Connect surface: reads,
    SQL and confs work; ``sparkContext`` raises, as Connect's does."""

    def __init__(self, spark):
        self._spark = spark
        self.conf = spark.conf
        self.sql = spark.sql

    @property
    def read(self):
        return self._spark.read

    @property
    def sparkContext(self):
        from pyspark.errors import PySparkAttributeError

        raise PySparkAttributeError("sparkContext is not supported in Spark Connect")


def test_register_views_on_a_session_without_spark_context(spark):
    """Under Spark Connect there is no sparkContext: confs are applied,
    no package is shipped, and the views register."""
    fresh = spark.newSession()
    fresh.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    connect = _ConnectShapedSession(fresh)
    register_views(connect, SF_SMOKE)
    assert fresh.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    assert {t.name for t in fresh.catalog.listTables()} >= set(TABLES)
    assert fresh.table("region").count() == 5


class _ContextlessSession:
    """A session whose ``sparkContext`` raises ``error``."""

    def __init__(self, error):
        self._error = error

    @property
    def sparkContext(self):
        raise self._error


def test_spread_returns_a_connect_dataframe_unchanged():
    """A Connect DataFrame has no partition count to read, so ``spread``
    returns it as it is; any other error reading the context propagates."""
    from pyspark.errors import PySparkAttributeError

    connect_error = PySparkAttributeError(
        errorClass="JVM_ATTRIBUTE_NOT_SUPPORTED",
        messageParameters={"attr_name": "sparkContext"},
    )
    df = SimpleNamespace(sparkSession=_ContextlessSession(connect_error))
    assert session.spread(df) is df

    df = SimpleNamespace(sparkSession=_ContextlessSession(RuntimeError("boom")))
    with pytest.raises(RuntimeError, match="boom"):
        session.spread(df)


def test_only_session_and_ranking_read_the_application_id():
    """Memo keys and per-session names use ``session.session_token``,
    which also works on Spark Connect; ``sparkContext.applicationId``
    raises there. Besides ``session.py`` only ``operators/ranking.py``
    reads it, because ``setCheckpointDir`` needs a SparkContext anyway."""
    package = os.path.join(ROOT, "aw3d30_parquet_spark")
    allowed = {"session.py", os.path.join("operators", "ranking.py")}
    readers = set()
    for dirpath, _, files in os.walk(package):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(dirpath, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            if any(
                isinstance(node, ast.Attribute) and node.attr == "applicationId"
                for node in ast.walk(tree)
            ):
                readers.add(os.path.relpath(path, package))
    assert readers == allowed
