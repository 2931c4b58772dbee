"""SparkSession factory and per-query session tuning.

The driver may hand us an arbitrary ``SparkSession``; everything that is
runtime-settable (session timezone, Arrow, AQE) is (re-)applied by
``tune()``. The wrapper ``registry.register`` stores for every query calls
it before the build, so correctness does not depend on who built the
session. A helper called outside ``queries()`` must call ``tune`` itself.

Static confs, such as the size of the generated-class cache, are read
once when the SparkContext starts, so they live only in ``get_spark``.
``tune()`` cannot change them: a session the driver built keeps Spark's
defaults (a 100-entry codegen cache), which costs recompiles, not
correctness.

Scale notes (100 TB design): these configs are the single place where
cluster-level tuning lives. On a real cluster the same factory is used
with ``master`` unset (picked up from spark-submit), AQE handles runtime
shuffle-partition coalescing and skew-join splitting, and
``autoBroadcastJoinThreshold`` keeps dimension joins map-side.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import uuid
import warnings
from collections.abc import Iterator, Mapping

from pyspark.sql import SparkSession

# Runtime-settable confs applied to ANY session we receive (driver's or ours).
_RUNTIME_CONFS = {
    # Oracle hash-match depends on UTC rendering (SURVEY.md §5.3).
    "spark.sql.session.timeZone": "UTC",
    # Arrow for all pandas_udf / toPandas paths (SURVEY.md §2.J).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: runtime shuffle coalescing, skew-join splitting, join demotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # ANSI off: Hive/legacy-permissive semantics (NULL on bad cast, not error),
    # which is also what the DuckDB oracle's permissive functions expect.
    "spark.sql.ansi.enabled": "false",
    # Stream checkpoints rename through FileSystem.rename. The default
    # FileContext manager renames through Hadoop's local file system,
    # which forks `readlink` on both paths of every offset, commit and
    # state-store file when libhadoop is not loaded. Every checkpoint is
    # a private per-run directory, so no second writer races the
    # non-exclusive rename; on HDFS the rename is atomic. A runtime conf,
    # not one scoped around start(): a file source's log is created
    # lazily on the stream thread, after such a scope has closed.
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
}


def shuffle_partitions(spark: SparkSession) -> int:
    """Shuffle partition count: ``$SPARK_GRAFT_SHUFFLE_PARTITIONS`` when
    set (the per-deployment knob — on a cluster size it so post-shuffle
    partitions land in the 100 MB–1 GB band, guide §2.2), otherwise the
    session's core count (``defaultParallelism``).

    Every cross-partition reduction in the engine accumulates in exact
    DECIMAL or integers (SCALE.md §9ac), so results are
    partition-count-invariant by construction; AQE coalesces above
    whatever is set here."""
    env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    if env:
        # Validate here so a malformed/zero/negative value fails softly
        # at the knob instead of crashing tune()/get_spark() far from
        # the env var (ADVICE r12).
        try:
            n = int(env)
        except ValueError:
            n = 0
        if n > 0:
            return n
        warnings.warn(
            f"SPARK_GRAFT_SHUFFLE_PARTITIONS={env!r} is not a positive "
            "int; falling back to defaultParallelism"
        )
    return fanout(spark)


def fanout(spark: SparkSession) -> int:
    """Partition fan-out used to SPREAD a single-split fixture table before
    per-pair-heavy work (the recurring 1-parquet-split disease, SCALE.md
    §9y): narrow chains and broadcast nested-loop joins inherit the
    streamed side's layout, so without an explicit repartition every
    probe×corpus pair evaluates on one core.

    Derived from ``defaultParallelism`` (= total cores on local[N],
    executor-count-scaled on a real cluster) rather than a literal 32, so
    the spread adapts to the host instead of over/under-parallelizing
    (ADVICE r8)."""
    return spark.sparkContext.defaultParallelism


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session. Idempotent, cheap."""
    for k, v in _RUNTIME_CONFS.items():
        spark.conf.set(k, v)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions(spark)))
    _ship_package(spark)
    return spark


@contextlib.contextmanager
def scoped_confs(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of a ``with`` block, then
    put each one back as it was: its old value, or unset when it had none.
    The restore runs also when the body raises, so an operator that needs
    a conf for its own plan never leaks it into later queries of the
    shared session."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextlib.contextmanager
def temp_functions(spark: SparkSession, *names: str) -> Iterator[tuple[str, ...]]:
    """Per-build unique names for the temporary functions ``names``, in
    order; each is dropped when the ``with`` block exits. A frame built
    in the block keeps working: ``spark.sql`` resolves its functions (and
    inlines a SQL function's body) when it analyses the text. So a
    caller's function of the same name is neither replaced nor removed,
    and the session's function catalog is left as it was."""
    tag = uuid.uuid4().hex[:12]
    unique = tuple(f"{name}_{tag}" for name in names)
    try:
        yield unique
    finally:
        for name in unique:
            spark.sql(f"DROP TEMPORARY FUNCTION IF EXISTS {name}")


def _ship_package(spark: SparkSession) -> None:
    """Make ``hive_test_spark`` importable on Python workers regardless of
    the driver process's cwd/sys.path.

    Python-tier kernels (pandas_udf / applyInPandas / mapInPandas bodies)
    defined at module level are cloudpickled BY REFERENCE, so workers must
    import this package by name. An external driver that imported
    ``__spark_entry__`` via an absolute path (cwd elsewhere) would
    otherwise crash every UDF-tier operator with ModuleNotFoundError.
    Shipping the package once per SparkContext with ``addPyFile`` is the
    same mechanism a real cluster deployment uses (``--py-files``), and is
    a no-op for JVM-only operators. Executors fetch the zip after this
    returns, so it is removed only when the interpreter exits.
    """
    sc = spark.sparkContext
    if getattr(sc, "_hts_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(tempfile.gettempdir(), f"hive_test_spark_pkg_{os.getpid()}.zip")
    atexit.register(_remove, zpath)
    with zipfile.ZipFile(zpath, "w") as z:
        for dirpath, dirnames, filenames in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(filenames):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    z.write(full, os.path.relpath(full, root))
    try:
        sc.addPyFile(zpath)
    except Exception as e:  # e.g. a session that forbids addPyFile
        warnings.warn(
            f"could not ship hive_test_spark to Python workers ({type(e).__name__}: {e}); "
            "UDF-tier operators then need the package on the workers' PYTHONPATH",
            RuntimeWarning,
            stacklevel=2,
        )
    sc._hts_pkg_shipped = True


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def get_spark(app_name: str = "hive-test-spark") -> SparkSession:
    """Build the engine's own session (tests / bench).

    ``local[$SPARK_GRAFT_CPUS]`` locally; on a cluster the master comes from
    the environment and this builder only contributes SQL confs.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Files: pack small test files; at scale maxPartitionBytes governs
        # scan parallelism (128m default keeps partitions executor-sized).
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Generated-class cache, keyed by source. Spark's default of 100
        # entries is smaller than one pass over the headline keys (about
        # 157 classes), so warm queries would recompile with Janino; the
        # whole registry compiles about 6,300 classes. Static: read once
        # when the context starts.
        .config("spark.sql.codegen.cache.maxEntries", "8192")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Needs a live context (core count), so set after creation; tune()
    # re-applies it per query for sessions built elsewhere.
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions(spark)))
    return spark
