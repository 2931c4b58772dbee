"""Table loading for the driver fixtures.

All ten tables (TESTDATA.md) load as parquet DataFrames. Loads are lazy
plan nodes; Catalyst pushes filters/column pruning into the vectorized
parquet reader, so callers should never pre-materialize.

Schema cache (metastore semantics): ``spark.read.parquet(path)`` runs one
Spark job to infer the schema from the file footers, on every call. So
``read_parquet`` infers a path's raw schema the first time a session
reads it and afterwards passes it through ``spark.read.schema(...)``,
which runs no job. The cache holds metadata only — every query still
scans the data. It lives on the SparkSession, because inference depends
on session confs, and its key is the path plus the current
``spark.sql.legacy.parquet.nanosAsLong`` value (the events ``ts`` vintage
switch). Each entry carries a stamp of (inode, mtime_ns, size) for every
file of the table; a changed stamp re-infers. The schema stays the RAW
one, so ``_normalize_ts`` still sees which ``ts`` vintage is on disk.

Scale notes: at 100 TB each "table" is a directory of many files (or an
external catalog table); ``read_parquet`` handles both, and the stamp
covers every file under a directory table. Partition-pruned reads come
for free when the warehouse layout is ``partitionBy`` -ed.

Materialization: ``materialize`` is the engine's only checkpoint. Every
operator that cuts a lineage (a loop round, a frame read by several
branches, a result pinned inside a conf scope) goes through it, so how a
lineage is cut is decided here once. Today that is a ``localCheckpoint``:
its blocks live in executor storage and are freed by the ContextCleaner
once the returned frame is released.

Landing: formats, layouts and stream sources the fixture does not ship
(an ORC copy of ``orders``, a partitioned layout, a stream source
directory) are written once into ``.scratch`` by ``land`` and reused
while the fixture's files stay the same. ``land`` is the only
write-once gate: it keys each copy on the fixture's files, not on its
directory name, so a fixture rewritten in place or another fixture
with the same directory name lands its own copy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLES = [
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
]

DEFAULT_SF_DIR = "/root/testdata/sf0.001"

# Session conf that reads TIMESTAMP(NANOS) parquet columns as raw longs.
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"

# Scratch area for sink/round-trip operators (inside the repo; gitignored).
SCRATCH_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return read_parquet(spark, table_path(sf_dir, name))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with the schema from the session's
    cache (module docstring), so no inference job runs once it is warm."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def parquet_schema(spark: SparkSession, path: str) -> T.StructType:
    """Raw parquet schema of ``path`` as this session infers it, inferred
    once per (path, nanosAsLong) and again only when a file changes."""
    cache = getattr(spark, "_hts_parquet_schemas", None)
    if cache is None:
        cache = spark._hts_parquet_schemas = {}
    key = (path, spark.conf.get(NANOS_AS_LONG))
    # Stamp BEFORE inferring: a file rewritten mid-inference re-infers next time.
    stamp = tuple((f, st.st_ino, st.st_mtime_ns, st.st_size) for f, st in _table_files(path))
    hit = cache.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    schema = spark.read.parquet(path).schema
    cache[key] = (stamp, schema)
    return schema


def _table_files(path: str) -> list[tuple[str, os.stat_result]]:
    """(file, stat) for each file of a table: the file itself, or every
    file under a directory table, in path order."""
    if not os.path.isdir(path):
        return [(path, os.stat(path))]
    files = sorted(os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs)
    return [(f, os.stat(f)) for f in files]


def table_bytes(sf_dir: str, name: str) -> int:
    """On-disk bytes of a fixture table (single file at fixture scale, a
    directory of files at warehouse scale). Unknown/missing reads as
    'huge' so size-gated broadcasts fail SAFE (never broadcast)."""
    try:
        return sum(st.st_size for _, st in _table_files(table_path(sf_dir, name)))
    except OSError:
        return 1 << 62


def side(df: DataFrame, sf_dir: str, *tables: str) -> DataFrame:
    """Join-side wrapper for a frame bounded by fixture ``tables`` that the
    planner cannot size itself (a checkpointed LogicalRDD leaf, a
    per-document frame derived through arrays): broadcast while the summed
    ``table_bytes`` of ``tables`` are at or below the session's live
    ``spark.sql.autoBroadcastJoinThreshold``, shuffle-hash otherwise.

    A bare ``F.broadcast`` overrides that threshold at any scale; this
    gate makes the decision correct statistics would make, from file
    metadata, with no Spark job. A threshold ≤ 0 means "never broadcast",
    so setting the conf to -1 forces every gate to its at-scale branch.
    The bytes compared are compressed on-disk bytes, not in-memory size."""
    from pyspark.sql import functions as F

    limit = df.sparkSession._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit > 0 and sum(table_bytes(sf_dir, t) for t in tables) <= limit:
        return F.broadcast(df)
    return df.hint("shuffle_hash")


def materialize(df: DataFrame) -> DataFrame:
    """Run ``df`` now and return a frame whose plan is a single scan of
    the stored result, with the lineage cut (``df.transform(materialize)``).

    This is ``localCheckpoint(eager=True)``: the blocks live in executor
    storage (MEMORY_AND_DISK), so a lost executor fails the query."""
    return df.localCheckpoint(eager=True)


def values(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A few literal ``rows`` as SQL ``VALUES``, typed by ``schema``
    (``"name type, ..."``). VALUES plans a JVM ``LocalRelation``;
    ``createDataFrame`` over a Python list plans a Python RDD, whose scan
    launches Python-worker tasks. Each value is written as a literal of
    its Python type (str, int as BIGINT, float as DOUBLE), then cast to
    its column's type."""
    struct = T.StructType.fromDDL(schema)
    text = ", ".join("(" + ", ".join(map(_sql_literal, row)) + ")" for row in rows)
    names = ", ".join(f"`{f.name}`" for f in struct.fields)
    return spark.sql(f"SELECT * FROM VALUES {text} AS t({names})").to(struct)


def _sql_literal(v: str | int | float) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"{v}L" if isinstance(v, int) else f"{v!r}D"


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize events.ts to TimestampType across fixture vintages.

    The driver has shipped events.parquet with two physical layouts:
    TIMESTAMP(NANOS) — which Spark's µs TimestampType rejects outright
    (PARQUET_TYPE_ILLEGAL), so it must be read as a raw long (legacy conf)
    and floored to µs, matching DuckDB's TIMESTAMP_NS → TIMESTAMP cast —
    and plain timestamp[us], which Spark 4 infers as TIMESTAMP_NTZ. Both
    normalize to session-tz TimestampType (session tz is pinned UTC, so
    the NTZ cast is wall-clock-identical)."""
    spark.conf.set(NANOS_AS_LONG, "true")
    df = read_parquet(spark, table_path(sf_dir, "events"))
    return df.withColumn("ts", _normalize_ts(df.schema["ts"].dataType))


def _normalize_ts(dtype):
    """Column expression turning a raw events.ts of any fixture vintage
    (long nanos | TIMESTAMP_NTZ µs | already-TimestampType) into
    TimestampType.

    NANOS-ONLY ASSUMPTION: a LongType ts can only come from the legacy
    ``nanosAsLong`` read of a TIMESTAMP(NANOS) parquet column (no fixture
    vintage ships raw int64 micros/millis), so DIV 1000 → µs is the only
    long branch. Guarded: values outside the plausible epoch-nanos range
    (1990..2100, i.e. ~6.3e17..4.1e18) raise instead of silently
    mis-scaling a future micros/millis vintage."""
    from pyspark.sql import functions as F

    if isinstance(dtype, T.LongType):
        return F.when(
            F.col("ts").between(631_152_000_000_000_000, 4_102_444_800_000_000_000),
            F.timestamp_micros(F.expr("ts DIV 1000")),
        ).otherwise(
            F.raise_error(
                F.concat(
                    F.lit("events.ts long value out of epoch-nanos range "
                          "(unexpected fixture vintage?): "),
                    F.col("ts").cast("string"),
                )
            ).cast(T.TimestampType())
        )
    return F.col("ts").cast(T.TimestampType())


def scratch_dir(*parts: str) -> str:
    """Path for a scratch output directory (parent pre-created)."""
    p = os.path.join(SCRATCH_DIR, *parts)
    os.makedirs(os.path.dirname(p), exist_ok=True)
    return p


LANDED_MARKER = "_hts_landed"


def land(sf_dir: str, name: str, write: Callable[[str], None]) -> str:
    """Directory holding the scratch copy ``name`` derived from the
    fixture at ``sf_dir``: ``SCRATCH_DIR/<name>/<basename>_<digest>``.

    The digest covers the fixture's real path and the (inode, mtime_ns,
    size) of each of its files, the stamp ``parquet_schema`` trusts. When
    the directory lacks the ``LANDED_MARKER`` file, it is removed,
    ``write(path)`` fills it and the marker is written last, so a
    half-written copy lands again. Spark's file listing skips the
    "_"-prefixed marker. Copies of ``name`` with the same basename and
    another digest are removed, so ``.scratch`` keeps one per fixture
    directory name. A copy follows the fixture, not the code: a changed
    ``write`` needs a new ``name``."""
    real = os.path.realpath(sf_dir)
    digest = hashlib.sha1(real.encode())
    for f, st in _table_files(real):
        digest.update(f"{f}\0{st.st_ino}\0{st.st_mtime_ns}\0{st.st_size}\n".encode())
    base = os.path.basename(os.path.normpath(sf_dir))
    leaf = f"{base}_{digest.hexdigest()[:16]}"
    parent = os.path.join(SCRATCH_DIR, name)
    os.makedirs(parent, exist_ok=True)
    for sib in os.listdir(parent):
        if sib != leaf and sib.rpartition("_")[0] == base:
            shutil.rmtree(os.path.join(parent, sib), ignore_errors=True)
    path = os.path.join(parent, leaf)
    if not os.path.exists(os.path.join(path, LANDED_MARKER)):
        shutil.rmtree(path, ignore_errors=True)
        write(path)
        open(os.path.join(path, LANDED_MARKER), "w").close()
    return path
