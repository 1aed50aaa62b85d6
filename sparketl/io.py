"""Fixture-table loading and view registration.

Mirrors the reference's "connect → pick database → tables become
queryable" flow (SQL_DATA_INTEGRATION_TOOL.py:146-181) for the parquet
fixture layout: every table in a directory becomes a temp view, so both
the DataFrame API and ``spark.sql`` see the same names.

Scans stay declarative (``spark.read.parquet``) so Catalyst pushes
filters/column pruning into the parquet reader — at 100 TB this is the
difference between reading 3 columns and reading 40.

Schema memo: inferring a parquet schema runs one Spark job per file,
and re-inferring the 10 fixture tables on every ``load_tables`` would
be most of the jobs of a short T-SQL query. So ``read_parquet`` keeps
the inferred ``StructType`` per file, keyed by the file's identity
(absolute path, size and mtime in ns; for a directory, the sorted
``(name, size, mtime_ns)`` listing) plus the session values of the
parquet confs that steer inference. A hit reads with
``spark.read.schema(cached)``: no job. A rewritten file changes the
key and is re-inferred.

Frame memo: building a relation still lists its files and analyses
the scan, and ``load_tables`` runs before every T-SQL query. So
``load_table`` also keeps the frame it returns (after
``normalize_events_ts`` for ``events``), keyed by the session plus the
schema key. A hit returns that same DataFrame: no relation is built
and no file listed. It is reused only while the schema-memo entry it
was built from still stands, so resetting ``_SCHEMAS`` drops it too;
another session (``newSession()``, a restarted one) misses.
``load_tables`` re-registers a temp view only when the session's view
of that name is not the one it registered from that frame (a raw
catalog lookup, no analysis), so a view a user replaced is restored.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLE_NAMES = (
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

# Small dimension tables that should always broadcast in joins. On a
# real cluster these are a few MB even at sf100 — broadcasting them
# removes the shuffle on the fact side entirely.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _murmur3_int32(x: int, seed: int = 42) -> int:
    """MurmurHash3 x86_32 of one 32-bit int — bit-exact with Spark's
    ``hash()``/``HashPartitioning`` for an IntegerType column (Austin
    Appleby's public-domain algorithm, the hashInt fast path). Pinned
    against ``F.hash`` by pytest so ``exact_hash_partition_keys`` can
    never silently drift from the engine."""
    m = 0xFFFFFFFF

    def rotl(v: int, r: int) -> int:
        return ((v << r) | (v >> (32 - r))) & m

    k1 = (x & m) * 0xCC9E2D51 & m
    k1 = rotl(k1, 15)
    k1 = (k1 * 0x1B873593) & m
    h1 = (seed & m) ^ k1
    h1 = rotl(h1, 13)
    h1 = (h1 * 5 + 0xE6546B64) & m
    h1 ^= 4  # total byte length
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85EBCA6B) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xC2B2AE35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


def exact_hash_partition_keys(n: int) -> list[int]:
    """Small ints ``k_0..k_{n-1}`` with ``pmod(hash(k_i), n) == i`` —
    tagging a row with ``k_c`` and ``repartition(n, tag)`` places it in
    partition ``c`` EXACTLY, with no RangePartitioner sampling pass and
    no hash-collision imbalance (guide §2.5: n distinct values hashed
    into n partitions collide; these keys are chosen not to)."""
    found: dict[int, int] = {}
    i = 0
    while len(found) < n:
        p = _murmur3_int32(i) % n
        if p not in found:
            found[p] = i
        i += 1
    return [found[p] for p in range(n)]


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Make ``events.ts`` a plain µs TimestampType regardless of how the
    session read the parquet TIMESTAMP(NANOS) column.

    Spark versions differ here: with ``spark.sql.legacy.parquet.nanosAsLong``
    honored the column arrives as epoch-ns LongType; newer readers (this
    container's 4.1.x) surface it natively as TIMESTAMP_NTZ and ignore the
    legacy conf. Downstream operators use ``unix_micros`` (TIMESTAMP-only),
    so both shapes are normalized to TimestampType. The NTZ→LTZ cast uses
    the session time zone, so it is pinned to UTC HERE — not only in
    ``load_table`` — because the streaming readers (``read_event_stream``,
    ``read_staged_stream``) stage the raw fixture themselves and would
    otherwise shift wall-clock values on a non-UTC session, diverging
    from DuckDB's tz-naive reading of the same file.
    """
    df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":  # legacy nanos-as-long: ns → µs integer truncation
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Session confs that change what parquet schema inference returns.
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
# Oldest entries go first past this many: every staged event stream
# adds entries for its own short-lived files.
_SCHEMAS_MAX = 1024
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """None for a path this process cannot stat (a remote URI, a missing
    file): such reads go uncached and fail, if at all, in Spark."""
    path = os.path.abspath(path)
    try:
        if os.path.isdir(path):
            stats = sorted((e.name, e.stat()) for e in os.scandir(path))
            ident = tuple((n, st.st_size, st.st_mtime_ns) for n, st in stats)
        else:
            st = os.stat(path)
            ident = (st.st_size, st.st_mtime_ns)
    except OSError:
        return None
    return (path, ident, tuple(spark.conf.get(c, None) for c in _INFER_CONFS))


def _put(memo: dict, limit: int, key: tuple, value) -> None:
    while len(memo) >= limit:
        memo.pop(next(iter(memo)), None)
    memo[key] = value


def _store(key: tuple | None, schema: StructType) -> None:
    if key is not None:
        _put(_SCHEMAS, _SCHEMAS_MAX, key, schema)


def remember_schema(spark: SparkSession, path: str, schema: StructType) -> None:
    """Record the schema of a parquet file this process just wrote, so
    ``read_parquet`` of it runs no inference job."""
    _store(_schema_key(spark, path), schema)


def _read(spark: SparkSession, path: str, key: tuple | None) -> DataFrame:
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _store(key, df.schema)
    return df


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema only the first
    time it sees this file under these confs (key: module docstring)."""
    # Key taken before inference: a file rewritten meanwhile stores its
    # schema under the old identity, which never matches again.
    return _read(spark, path, _schema_key(spark, path))


class _Frame:
    """A memoized fixture frame, the schema-memo entry it was read with
    and the raw temp view ``load_tables`` last registered from it."""

    __slots__ = ("session", "schema", "df", "view")

    def __init__(self, session, schema, df):
        self.session, self.schema, self.df, self.view = session, schema, df, None


# Keyed by ``id(session)``: each entry holds its session, so that id
# names no other live session. A few sessions' fixture sets fit.
_FRAMES_MAX = 64
_FRAMES: dict[tuple, _Frame] = {}


def _session_prereqs(spark: SparkSession) -> None:
    # Every entry point must be self-sufficient under an externally
    # constructed vanilla SparkSession (the driver's), so session-level
    # prerequisites are (re)applied here, not only in the session factory.
    # UTC makes the TIMESTAMP_NTZ→TIMESTAMP cast in normalize_events_ts a
    # wall-clock identity, matching DuckDB's tz-naive view of the parquet.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        # Honored on older readers (nanos → LongType); silently ignored on
        # readers that support TIMESTAMP(NANOS) natively as NTZ.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass


def _frame(spark: SparkSession, sf_dir: str, name: str) -> _Frame:
    path = table_path(sf_dir, name)
    key = _schema_key(spark, path)
    fkey = (id(spark), name, key)
    hit = _FRAMES.get(fkey)
    if hit is not None and _SCHEMAS.get(key) is hit.schema:
        return hit
    df = _read(spark, path, key)
    if name == "events":
        df = normalize_events_ts(df)
    frame = _Frame(spark, _SCHEMAS.get(key), df)
    if frame.schema is not None:
        _put(_FRAMES, _FRAMES_MAX, fkey, frame)
    return frame


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One fixture table; the same DataFrame while its file, the
    inference confs and the session are unchanged (module docstring)."""
    _session_prereqs(spark)
    return _frame(spark, sf_dir, name).df


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure enough partitions for compute-heavy per-row operators.

    Small fixture tables arrive as one parquet file → one partition →
    one core. On a real cluster the input is thousands of files, so
    parallelism is natural; locally this round-robin repartition stands
    in for that. Only used ahead of expensive per-row work (hashing,
    shingling, vector math) where the shuffle cost is trivially repaid.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    # Pure-metadata parallelism probe — no job, no DataFrame→RDD
    # lineage conversion anywhere (df.rdd.getNumPartitions() would
    # force one on every call). The leaf file COUNT bounds scan
    # parallelism from below; large files additionally split at
    # maxPartitionBytes, so estimated splits = Σ ceil(size/split) per
    # file. A many-file or big-file input (the cluster case)
    # short-circuits untouched; only genuinely narrow scans — and
    # fileless in-memory frames, which at fixture scale shuffle for
    # pennies — pay the round-robin repartition.
    files = df.inputFiles()
    if len(files) >= min_partitions:
        return df
    if files:
        raw = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024)
        ).strip().lower()
        units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30}
        digits = raw.rstrip("kmgb")
        suffix = raw[len(digits):].rstrip("b")
        max_split = int(digits) * units.get(suffix, 1) if digits else 128 << 20
        est = 0
        for f in files:
            p = f[7:] if f.startswith("file:") and f[5:7] == "//" else f
            try:
                size = os.path.getsize(p)
            except OSError:
                size = 0
            est += max(1, -(-size // max_split))
            if est >= min_partitions:
                return df
    return df.repartition(min_partitions)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLE_NAMES
) -> dict[str, DataFrame]:
    """Load every fixture table and register it as a temp view; a view
    still holding the frame it was registered from is left alone."""
    _session_prereqs(spark)
    catalog = spark._jsparkSession.sessionState().catalog()
    out: dict[str, DataFrame] = {}
    for name in names:
        if not os.path.exists(table_path(sf_dir, name)):
            continue
        frame = _frame(spark, sf_dir, name)
        if frame.view is None or not catalog.getRawTempView(name).equals(frame.view):
            frame.df.createOrReplaceTempView(name)
            frame.view = catalog.getRawTempView(name)
        out[name] = frame.df
    return out
