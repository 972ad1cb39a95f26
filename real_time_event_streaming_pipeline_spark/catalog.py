"""Table registry over a scale-factor directory of Parquet tables.

Stands in for the reference's three DynamoDB tables plus Kafka topic
(SURVEY.md §1.1): at scale these would be partitioned Parquet/Delta
tables (partitioned by date/city) so partition pruning replaces the
DynamoDB hash-key Query (reference
api/.../CityStreamApiApplication.java:156-167). Here they are the
driver-generated single-file tables under /root/testdata/sf*/.

Parquet embeds its schema, so no inference pass happens; scans get
predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

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

# Dimension tables small enough to broadcast at any realistic scale
# (region=5ish, nation=25ish rows even at 100 TB fact scale).
BROADCAST_DIMS = frozenset({"region", "nation"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Confs the engine REQUIRES for correct results, applied defensively at
# load time because the driver may hand us a session built without our
# factory: nanos parquet support (some testdata generations write the
# events table as TIMESTAMP_NANOS — a bare read throws
# PARQUET_TYPE_ILLEGAL), a UTC session TZ (every timestamp-string
# output would silently shift under a local TZ), and NTZ inference OFF
# so naive parquet timestamps (isAdjustedToUTC=false, how both the
# driver's generator and DuckDB write them) read as TIMESTAMP_LTZ —
# under a UTC session the values are identical to what the DuckDB
# oracle sees, and LTZ keeps unix_micros()/to_utc-family functions
# usable (they reject TIMESTAMP_NTZ). All are runtime-settable.
_REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_session_defaults(spark: SparkSession) -> None:
    for k, v in _REQUIRED_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in some deployments; session factory set it


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def table_rows_metadata(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTERS only — no Spark job, no
    data scan (r8 ADVICE: q_image_dedup_pairs ran an eager
    docs.count() at plan-construction time just to pick a candidate
    scheme, a full-scan job landing inside bench timing). Footers are
    O(files), not O(bytes): at 100 TB this is a metadata listing."""
    import pyarrow.parquet as pq

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        # recurse (r9 ADVICE): a Hive-partitioned or nested layout has
        # no top-level part files — summing only os.listdir would read
        # 0 and silently flip corpus-size-routed queries
        # (q_dedup_clusters, q_image_dedup_pairs) onto their
        # small-corpus exact paths precisely where those paths are
        # superlinear. And an empty directory must raise, not return
        # 0, so a layout change can never masquerade as an empty
        # corpus.
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not files:
            raise FileNotFoundError(
                f"table_rows_metadata: directory {path!r} contains no "
                "*.parquet files at any depth — corpus-size routing "
                "refuses to treat an unreadable layout as an empty corpus"
            )
        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return pq.ParquetFile(path).metadata.num_rows


def table_column_bytes_metadata(sf_dir: str, name: str, column: str) -> int:
    """Total UNCOMPRESSED bytes of one column, from parquet footers
    only — no Spark job (the table_rows_metadata discipline). Footers
    record per-row-group per-column total_uncompressed_size, so this
    is an O(files) metadata read that sizes a text column's raw
    volume; corpus-size route switches (e.g. the tfidf df-broadcast
    gate) use it to Heaps-estimate vocabulary without scanning data."""
    import pyarrow.parquet as pq

    def _file_bytes(f: str) -> int:
        md = pq.ParquetFile(f).metadata
        names = md.schema.names
        if column not in names:
            raise KeyError(
                f"table_column_bytes_metadata: column {column!r} not in "
                f"{f!r} (have {names})"
            )
        ci = names.index(column)
        return sum(
            md.row_group(g).column(ci).total_uncompressed_size
            for g in range(md.num_row_groups)
        )

    path = table_path(sf_dir, name)
    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _dirs, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not files:
            raise FileNotFoundError(
                f"table_column_bytes_metadata: directory {path!r} contains "
                "no *.parquet files at any depth"
            )
        return sum(_file_bytes(f) for f in files)
    return _file_bytes(path)


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """THE one ts-unit guard, shared by batch and stream so they can
    never diverge: the driver's testdata has shipped `events.ts` both
    as TIMESTAMP_NANOS (arrives as LongType under nanosAsLong) and as
    TIMESTAMP_MICROS (arrives as TimestampType). Branch on the type the
    column ACTUALLY arrived as — only a nanos-long needs `div 1000`;
    a timestamp passes through untouched."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if "ts" in df.columns and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer div — float division would lose precision on 1e18 ns
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def events_arrival_schema(spark: SparkSession, sf_dir: str):
    """Probe the events parquet footer (schema-only, no data read) for
    the schema a scan of this file will deliver under our session confs.
    Used to declare the file-stream read schema so stream and batch see
    identical arrival types."""
    ensure_session_defaults(spark)
    return spark.read.parquet(table_path(sf_dir, "events")).schema


# Lazy-DataFrame memo: spark.read.parquet() costs a driver-side file
# listing + footer schema read + several py4j round trips (~40-120 ms
# per call measured at sf0.1), and a 6-table join query pays it six
# times PER PLAN BUILD — the bench rebuilds each query every rep, so
# this overhead sat inside every recorded latency (r13 optimization,
# guide §1: the time was going to driver-side plan construction, not
# execution). The memo stores the UNEXECUTED scan DataFrame only —
# every action still computes from the parquet files; no rows, no
# results, no intermediates are cached. Keyed by (applicationId,
# realpath, table) so a stopped/recreated context can never see a
# stale session's plan, PLUS a freshness token (_freshness_token):
# a harness that rewrites a table in place under an already-loaded
# path gets a fresh scan instead of the pinned file listing of first
# load, so the fail-safe is mechanical, not a clear_load_memo()
# convention. (A rewrite that preserves both mtime_ns and byte size
# is not a realistic filesystem event; clear_load_memo() remains the
# explicit escape hatch.)
_LOAD_MEMO: dict[tuple[str, str, str], tuple[tuple, DataFrame]] = {}


def _freshness_token(path: str) -> tuple:
    """(mtime_ns, size) of a single-file table — one os.stat per load.
    A directory table also folds in its files' max mtime_ns, summed
    size and count (recursively): overwriting a part file in place
    under the same name changes neither the directory's own mtime nor
    its size, so the path stat alone would keep serving the memoized
    scan's stale file listing."""
    try:
        st = os.stat(path)
    except OSError:
        return (-1, -1)  # let spark.read raise the real error
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_mtime_ns, st.st_size)
    newest, total, count = 0, 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            fst = os.stat(os.path.join(root, f))
            newest = max(newest, fst.st_mtime_ns)
            total += fst.st_size
            count += 1
    return (st.st_mtime_ns, st.st_size, newest, total, count)


def clear_load_memo() -> None:
    """Escape hatch for harnesses that rewrite a table in place under
    a path already loaded this process."""
    _LOAD_MEMO.clear()


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a DataFrame (lazy; scan-level pushdown applies)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_defaults(spark)
    app_id = spark.sparkContext.applicationId
    key = (app_id, os.path.realpath(sf_dir), name)
    # an in-place rewrite changes the token, so the memo misses and
    # relists instead of serving a stale pinned file set
    token = _freshness_token(table_path(sf_dir, name))
    hit = _LOAD_MEMO.get(key)
    # The memoized DataFrame is bound to the SparkSession that built
    # it: under newSession() (several sessions over one context — the
    # driver contract allows an externally built session) a hit from
    # a DIFFERENT session would silently bind downstream temp views
    # to the wrong session's catalog (r13 review finding). Identity
    # check on the owning session; mismatch rebuilds for the caller's
    # session (correctness over cache locality — alternating sessions
    # just stop caching).
    if hit is not None:
        tok, df = hit
        if tok == token and df.sparkSession is spark:
            return df
    # evict entries from stopped contexts: a new applicationId makes
    # old keys unreachable forever, so drop them instead of holding
    # dead-JVM plan references for the life of the module
    stale = [k for k in _LOAD_MEMO if k[0] != app_id]
    for k in stale:
        del _LOAD_MEMO[k]
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events":
        df = normalize_events_ts(df)
    _LOAD_MEMO[key] = (token, df)
    return df


def register_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view and return the DataFrames.

    Views let engine code use spark.sql(...) with the same table names
    the DuckDB oracle sees.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
