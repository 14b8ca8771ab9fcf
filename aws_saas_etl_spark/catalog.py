"""Table catalog over the Parquet fixture tables.

The reference keeps its metadata in Postgres and its data as loose CSV in
S3 (reference app.py:34-39, etl_core.py:22-27); the engine's catalog is a
directory of Parquet tables, one ``<name>.parquet`` file or directory per
table. Schemas come from Parquet footers, so scans get column pruning and
predicate pushdown for free.

Every fixture table is opened here. ``load_table`` builds a table's scan at
most once per Spark application and serves later calls from a session
cache keyed by (applicationId, absolute table path, listing signature);
the listing signature is the relative name, size and ``mtime_ns`` of every
file under the path, so a table rewritten in place gets a new scan instead
of a stale file index. The cache is an untraced ``memo.MemoDict``:
``session.clear_session_memos`` empties it, and a cold pass pays one scan
per table it touches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from aws_saas_etl_spark.memo import MemoDict

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

# Dimension tables with FIXED cardinality (5 regions, 25 nations at any
# scale factor) — the only tables safe to force-broadcast. `supplier` and
# `part` GROW with scale factor (sf100 ⇒ 20M+ parts): hinting them would
# override Spark's size threshold and OOM the driver at cluster scale, so
# their joins carry no hint — the planner broadcasts them only while their
# file-size stats fit `spark.sql.autoBroadcastJoinThreshold`, and AQE can
# still convert to broadcast at runtime from actual shuffle sizes.
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_SCANS = MemoDict("table_scans", traced=False)
_ROW_COUNTS = MemoDict("table_row_counts", traced=False)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _listing_signature(path: str) -> tuple:
    """(relative name, size, mtime_ns) of every file under ``path``."""
    if os.path.isfile(path):
        st = os.stat(path)
        return ((".", st.st_size, st.st_mtime_ns),)
    files = []
    for root, _dirs, names in os.walk(path):
        for n in names:
            full = os.path.join(root, n)
            st = os.stat(full)
            files.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(files))


def _scan_key(spark: SparkSession, sf_dir: str, name: str) -> tuple:
    path = os.path.abspath(table_path(sf_dir, name))
    return (spark.sparkContext.applicationId, path, _listing_signature(path))


def _open_scan(spark: SparkSession, path: str, name: str) -> DataFrame:
    scan = spark.read.parquet(path)
    # A TIMESTAMP(NANOS) ``events.ts`` reads as raw int64 nanoseconds
    # (``nanosAsLong``, set by session.get_spark); exact integer division
    # converts it to microsecond TIMESTAMP_NTZ, truncating like DuckDB's
    # ns→µs conversion, so both engines see identical values.
    if name == "events" and dict(scan.dtypes).get("ts") == "bigint":
        scan = scan.withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
        )
    return scan


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The scan of one fixture table, built once per Spark application.

    Calls with the same applicationId, absolute table path and file listing
    return the same ``DataFrame``; a rewritten table (any file added,
    removed, resized or touched) gets a fresh scan. ``events.ts`` is
    already TIMESTAMP_NTZ in the returned scan. The cache is emptied by
    ``session.clear_session_memos``.
    """
    key = _scan_key(spark, sf_dir, name)
    scan = _SCANS.get(key)
    if scan is None:
        scan = _SCANS[key] = _open_scan(spark, table_path(sf_dir, name), name)
    return scan


def table_row_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """|table|, counted once per scan-cache key on the cached scan.

    The count over an unmodified Parquet scan reads footer metadata only (no
    shuffle, no repartition). It shares ``load_table``'s key, so a rewritten
    table gets a fresh count, and ``session.clear_session_memos`` clears it.
    Use it for SIZING decisions: it equals the count of any row-preserving
    derivation of the scan, so replacing a ``df.count()`` sizing probe with
    it changes no query result.
    """
    key = _scan_key(spark, sf_dir, name)
    got = _ROW_COUNTS.get(key)
    if got is None:
        got = _ROW_COUNTS[key] = load_table(spark, sf_dir, name).count()
    return got


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a scan that has too few input splits.

    Small single-file Parquet inputs arrive as ONE partition, which
    serializes every downstream per-row computation (tokenization, hashing,
    pair joins) onto one core. Operators with heavy map-side work call this
    before computing. On a real cluster reading many-file tables the input
    already has >= parallelism splits and this is a no-op — the shuffle
    only happens when the scan is pathologically under-split.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    # Cheap probe: count input files (driver-side listing, ~ms). The exact
    # check (df.rdd.getNumPartitions()) converts the plan to an RDD and
    # measured ~1s per call — pure per-query overhead. A table backed by
    # fewer files than cores is the under-split case we guard against
    # (single-row-group files can't split further anyway).
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if n_files >= target:
        return df
    return df.repartition(target)


class _Tables:
    """Fixture tables as attributes, each opened on first access."""

    def __init__(self, spark: SparkSession, sf_dir: str) -> None:
        self._spark = spark
        self._sf_dir = sf_dir

    def __getattr__(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise AttributeError(name)
        scan = load_table(self._spark, self._sf_dir, name)
        setattr(self, name, scan)
        return scan


def load_tables(spark: SparkSession, sf_dir: str) -> _Tables:
    """All fixture tables as lazy attributes: ``t = load_tables(...);
    t.orders`` opens only ``orders`` (through ``load_table``), once per
    namespace."""
    return _Tables(spark, sf_dir)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table's cached scan as a temp view for
    ``spark.sql``."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
