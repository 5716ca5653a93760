"""SparkSession factory and testdata catalog registration.

The reference's "catalog" is an S3 key listing (reference
``src/main.rs:265-331``) with its Parquet schema declared in code
(``src/main.rs:273-293``); ours is a set of Parquet-backed temp views
over the driver testdata, registered once per (session, sf_dir). Each
view's schema is read from its file's Parquet footer on the driver, so
registration runs no Spark job; a table stored as a directory of part
files keeps Spark's schema inference.

Scale posture: every config here is chosen to survive a 1000-executor
cluster, not just local[32] — AQE on (runtime re-planning, skew joins,
partition coalescing), broadcast threshold left at default so small dims
(region/nation/supplier) broadcast, Arrow enabled for the Pandas-UDF
paths, shuffle partitions sized for local test scale but overridable.
"""

from __future__ import annotations

import os
import uuid
import weakref

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException, PySparkTypeError
from pyspark.sql import SparkSession
from pyspark.sql.types import LongType, StructField, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

#: Some testdata generations store ``events.ts`` as Parquet
#: TIMESTAMP(NANOS, NTZ), which Spark's vectorized reader rejects
#: (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong=
#: true`` — the int64 nanos then surface as a plain BIGINT which we
#: truncate to micros exactly like DuckDB does (integer ``div``, not
#: float division). Other generations store micros directly, in which
#: case the raw scan already yields TIMESTAMP_NTZ and no conversion is
#: needed (see register_views, which picks per-schema).
_EVENTS_NANOS_VIEW_SQL = """
SELECT event_id,
       CAST(timestamp_micros(ts div 1000) AS TIMESTAMP_NTZ) AS ts,
       user_id, event_type, value, props
FROM {raw}
"""

# Confs that are safe / required at runtime on an externally-provided
# session (the driver hands queries() its own SparkSession).
_RUNTIME_CONFS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # the aw3d30 Python DataSource implements pushFilters (tile-level
    # pruning); Spark requires this opt-in before it will call it
    "spark.sql.python.filterPushdown.enabled": "true",
}


def get_spark(
    app_name: str = "aw3d30-parquet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    local[*] by default; override with SPARK_GRAFT_CPUS. Shuffle
    partitions default to the local core count — at cluster scale the
    caller sets this (or relies on AQE coalescing, which is on).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        # keep stdout machine-parseable (bench prints ONE JSON line)
        .config("spark.ui.showConsoleProgress", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_runtime_confs(spark: SparkSession) -> None:
    """Apply required runtime confs to an externally-created session."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except AnalysisException:
            # CANNOT_MODIFY_CONFIG: a conf pinned static by the session's
            # build; registration still proceeds — the reads below will
            # surface a real error.
            pass
    ship_package(spark)


#: applicationId → package already shipped to its executors.
#: ``addPyFile`` is per SparkContext, and applicationId (unlike the
#: id() of a session wrapper) is never recycled in-process.
_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Pandas UDFs defined at module top level pickle *by reference* — the
    worker re-imports ``aw3d30_parquet_spark`` to unpickle them. The
    driver may have imported us from a directory that is not on the
    workers' ``sys.path`` (and on a real cluster the executors don't
    share the driver's filesystem at all), so we ship a zip of the
    package through ``addPyFile`` — the same file-server channel
    ``spark-submit --py-files`` uses on a 1000-executor cluster. One
    zip per process, a few tens of KB, built once (:func:`_package_zip`).
    """
    try:
        sc = spark.sparkContext
    except AttributeError:
        # Spark Connect sessions have no sparkContext; UDFs are shipped
        # via the Connect artifact channel instead.
        return
    if sc.applicationId in _SHIPPED:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED.add(sc.applicationId)


#: Path of this process's package zip; None until first built.
_PACKAGE_ZIP: str | None = None


def _package_zip() -> str:
    """Zip this package's ``.py`` files into a fresh ``mkdtemp`` directory,
    once per process. A fixed name under the shared temp dir would ship
    whatever an earlier process with the same pid left there."""
    global _PACKAGE_ZIP
    if _PACKAGE_ZIP is None:
        import atexit
        import shutil
        import tempfile
        import zipfile

        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        out_dir = tempfile.mkdtemp(prefix="aw3d30_parquet_spark_pyfiles_")
        atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
        zip_path = os.path.join(out_dir, "aw3d30_parquet_spark.zip")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
            for root, _dirs, files in os.walk(pkg_dir):
                for fname in files:
                    if not fname.endswith(".py"):
                        continue
                    full = os.path.join(root, fname)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg_dir)))
        _PACKAGE_ZIP = zip_path
    return _PACKAGE_ZIP


#: Floor on per-task input bytes for spread()'s fan-out. Below it the
#: per-task fixed costs (launch, codegen setup, the Arrow/Python-worker
#: handshake on kernel stages) exceed the work: an identical JVM text
#: kernel burned 5.9 s of task CPU across 32 thin tasks against 0.42 s
#: across 8 fat ones, flat from ~64 KiB per task up (32 vCPU host). AQE's
#: coalescePartitions.minPartitionSize plays the same part for shuffles,
#: but AQE never coalesces an explicit repartition(n).
SPREAD_BYTES_PER_TASK = 64 * 1024


def session_width(spark: SparkSession) -> int:
    """The session's task width: ``defaultParallelism`` (``local[N]``,
    or the executors' total cores on a cluster), or 32 under Spark
    Connect, whose sessions raise AttributeError for ``sparkContext``.
    Every fan-out and cache width derives from it."""
    try:
        return spark.sparkContext.defaultParallelism
    except AttributeError:
        return 32


def spread(df, min_partitions: int | None = None, dense: bool = False):
    """Fan a compute-bound input out when its scan yields fewer splits
    than the work supports.

    A small Parquet file arrives as ONE input split, so an expensive
    per-row stage (shingling, minhash, media decode, cosine) would run
    on a single core regardless of cluster size. A round-robin
    repartition costs one tiny shuffle of the (small) input and buys
    parallelism. The target is a function of the plan and the session
    alone:

        target = min(defaultParallelism, ceil(size / SPREAD_BYTES_PER_TASK))

    where ``size`` is Catalyst's size estimate of ``df`` (no job).
    ``dense=True`` drops the byte term: it declares a per-ROW Python
    codec kernel (PNG/BMFF/WAV fabrication, ~ms of CPU per row off a
    few bytes of id) whose work the byte proxy underestimates ~100×.
    ``min_partitions`` overrides both. An input already split at least
    ``target`` ways is returned unchanged, so a large table's thousands
    of splits never shuffle.
    """
    # Under Spark Connect there is no sparkContext, no _jdf and no
    # df.rdd (all raise PySparkAttributeError), so no partition count
    # can be read: return the plan unchanged rather than add a blind
    # shuffle.
    try:
        sc = df.sparkSession.sparkContext
    except AttributeError:
        return df
    target = min_partitions or sc.defaultParallelism
    if min_partitions is None and not dense:
        # Unknown sizes come back Long.Max-ish and keep the width cap.
        try:
            size = int(
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            target = min(target, -(-size // SPREAD_BYTES_PER_TASK) or 1)
        except Py4JJavaError:
            pass
    # JVM-side internal-row RDD: same partition count as df.rdd but
    # without building the Python-serializer conversion plan (~2 ms vs
    # ~0.3 s per fresh DataFrame).
    try:
        n_parts = df._jdf.queryExecution().toRdd().getNumPartitions()
    except AttributeError:
        n_parts = df.rdd.getNumPartitions()
    if n_parts < target:
        return df.repartition(target)
    return df


#: session → sf_dir currently registered (testdata is immutable, so
#: re-registration is only needed when the sf_dir changes). Keyed on
#: the session OBJECT (temp views are per session, not per context),
#: weakly: a stopped session and its JVM state are not kept alive, and
#: the entry dies with the session, so a recycled id() cannot inherit it.
_REGISTERED: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)

#: live session object → assigned token (see session_token). A weak
#: mapping: the entry dies WITH the session, so a recycled id() can
#: never resurrect a dead session's token (an id()-keyed token could
#: serve a stale memo entry to a new session whose object landed on a
#: freed address).
_SESSION_TOKENS: "weakref.WeakKeyDictionary[SparkSession, str]" = (
    weakref.WeakKeyDictionary()
)


def session_token(spark: SparkSession) -> str:
    """Stable identifier for per-session memo keys and for the names of
    the session's scratch tables (b01, b02, l02). Classic Spark: the
    applicationId. Spark Connect (no sparkContext): a random token held
    weakly against the session object, unique for the object's lifetime,
    never reused after collection, and distinct across client processes
    that share one server's warehouse."""
    try:
        return spark.sparkContext.applicationId
    except AttributeError:
        tok = _SESSION_TOKENS.get(spark)
        if tok is None:
            tok = f"connect_{uuid.uuid4().hex}"
            _SESSION_TOKENS[spark] = tok
        return tok


def _footer_schema(path: str) -> StructType | None:
    """The schema Spark's Parquet reader gives the single file ``path``,
    built from its footer on the driver: no Spark job.

    Arrow types convert with ``from_arrow_type(prefer_timestamp_ntz=
    True)`` — TIMESTAMP(isAdjustedToUTC=false) reads as TIMESTAMP_NTZ, as
    Spark infers it — except a top-level TIMESTAMP(NANOS), which reads as
    bigint under the session's ``spark.sql.legacy.parquet.nanosAsLong``.
    Returns None, for Spark to infer the schema, where the footer holds a
    type this conversion would read differently: INT96 (which pyarrow
    also calls ``timestamp[ns]``), a nested TIMESTAMP(NANOS), a duration
    (its Arrow type comes from the stored Arrow schema; Spark reads the
    bare INT64), or a type with no Arrow→Spark mapping (unsigned ints).
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    def nanos(t) -> bool:
        return pa.types.is_timestamp(t) and t.unit == "ns"

    def leaves(t):
        if t.num_fields == 0:
            yield t
        for i in range(t.num_fields):
            yield from leaves(t.field(i).type)

    footer = pq.read_metadata(path).schema
    if any(footer.column(i).physical_type == "INT96" for i in range(len(footer))):
        return None
    fields = []
    for f in footer.to_arrow_schema():
        if nanos(f.type):
            fields.append(StructField(f.name, LongType()))
            continue
        if any(nanos(t) or pa.types.is_duration(t) for t in leaves(f.type)):
            return None
        try:
            spark_type = from_arrow_type(f.type, prefer_timestamp_ntz=True)
        except PySparkTypeError:
            return None
        fields.append(StructField(f.name, spark_type))
    return StructType(fields)


def register_views(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> None:
    """Register the ten testdata Parquet tables as temp views, running no
    Spark job.

    Each table's schema comes from its Parquet footer (_footer_schema),
    read on the driver, and is declared to the reader, so Spark skips
    its schema-inference job (one per table). A table stored as a
    directory of part files, or whose footer holds a type the footer
    conversion does not cover, falls back to Spark's inference. Every
    bundled testdata table is a single file.

    ``events`` is schema-conditional: only when its ``ts`` column reads
    as bigint (nanos-as-long generation) is it registered through the
    nanos→micros converting projection (_EVENTS_NANOS_VIEW_SQL);
    otherwise it is a direct scan like every other table, so Catalyst
    keeps full pushdown/pruning into the Parquet source.

    Memoized per (session, sf_dir): every query entry calls this, and
    re-reading ten Parquet footers per query is pure fixed overhead.
    """
    if _REGISTERED.get(spark) == sf_dir:
        return
    apply_runtime_confs(spark)
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        schema = _footer_schema(path) if os.path.isfile(path) else None
        reader = spark.read if schema is None else spark.read.schema(schema)
        df = reader.parquet(path)
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            # nanos-as-long generation: convert through the view
            df.createOrReplaceTempView("events_raw")
            spark.sql(
                _EVENTS_NANOS_VIEW_SQL.format(raw="events_raw")
            ).createOrReplaceTempView("events")
        else:
            df.createOrReplaceTempView(name)
    _REGISTERED[spark] = sf_dir
