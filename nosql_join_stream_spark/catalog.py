"""Table catalog: logical table name → parquet path under a scale dir.

Stand-in for the reference's DB namespaces (Mongo ``db/collection``,
Cassandra ``keyspace/table`` — reference join/package.scala:32-33,
storage.scala:383-384,402-403).  The reference resolves a name to a
live cursor; we resolve it to a lazily-scanned columnar DataFrame, so
Catalyst gets predicate pushdown / column pruning / partition pruning
for free (reference had to push the query into the DB by hand,
storage.scala:597-602,648-652).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


class UnknownTableError(KeyError):
    """Raised before execution when a table name cannot be resolved —
    mirrors the reference's fail-fast builder validation (missing
    db/collection ⇒ Left(error) ⇒ failed stream,
    mongo/channel/package.scala:252-259,268)."""


def table_path(sf_dir: str, name: str) -> str:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        raise UnknownTableError(f"table '{name}' not found under {sf_dir}")
    return path


# Timestamp normalization at the catalog boundary.  The driver's test
# data has shipped `events.ts` in two physical forms across rounds:
#   - TIMESTAMP(NANOS): Spark rejects it by default (PARQUET_TYPE_
#     ILLEGAL); we read raw int64 nanos via the legacy conf (set once,
#     in session.get_session) and restore TimestampType (values are
#     µs-aligned, so ns→µs is lossless);
#   - TIMESTAMP(MICROS, isAdjustedToUTC=false): loads as TIMESTAMP_NTZ,
#     which unix_micros / numeric casts / unions-with-TIMESTAMP reject.
# Both are normalized to plain TIMESTAMP here, once, so every operator
# downstream sees one type.  The session timezone is pinned to UTC
# (session.py), so NTZ→TIMESTAMP is value-identical to DuckDB's naive
# reading of the same parquet.
_NANOS_TS_COLS = {"events": ("ts",)}


def _pin_if_broadcast_sized(spark: SparkSession, df: DataFrame) -> None:
    """``df.cache()`` when the optimizer's size estimate — the quantity
    Spark's broadcast rule compares — is at most
    ``spark.sql.autoBroadcastJoinThreshold``; a threshold <= 0 disables
    pinning along with broadcast."""
    threshold = spark._jsparkSession.sessionState().conf() \
        .autoBroadcastJoinThreshold()
    if threshold <= 0:
        return
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if size <= threshold:
        df.cache()


def load_table(spark: SparkSession, name: str,
               sf_dir: str | None = None) -> DataFrame:
    """Scan a catalog table. Lazy; nothing runs until an action.
    A narrow scan is not spread here: a per-row kernel spreads its own
    input (``operators.spread``).

    The normalized DataFrame is memoized per (session, path): the
    ``df.dtypes`` probe and the cast projection cost a JVM round-trip
    per call, and every registry query re-loads its tables, so without
    the cache the bench pays that fixed cost 122+ times per run
    (flagged as the suspected `funnel_view_click_purchase` regression
    in round 3).  DataFrames are immutable, so handing the same plan
    object to every caller is safe; the cache dies with the session
    object, and test data never mutates mid-session.

    Pinning: a table whose size estimate is at most
    ``spark.sql.autoBroadcastJoinThreshold`` (64 MB from
    ``get_session``) is marked ``cache()`` once per path, so a point
    read filters Spark's in-memory columnar batches instead of decoding
    the parquet file again (the reference's reads are lookups against
    data the database already holds).  The pin is built by the first
    action that scans the table and lives as long as the session; the
    perturb variant is built on the pinned base.  Anything
    the broadcast rule would not broadcast (sf1 ``lineitem``, every
    table at 100 TB) is not pinned and plans exactly as before; a
    threshold <= 0 disables pinning.  ``spark.catalog.clearCache()``
    releases every pin: later reads scan parquet, and the memo does not
    re-pin within the session.
    """
    path = table_path(sf_dir or DEFAULT_SF_DIR, name)
    # Determinism-gate seam (tools/check_correctness.py --perturb): when
    # SPARK_GRAFT_PERTURB=<n> is set, every catalog scan is re-sharded
    # into n partitions, permuting aggregation accumulation order.  Any
    # query whose VALUES change under two different n is order-
    # nondeterministic (the r11 tpch_q11 half-cent ROUND(SUM(double))
    # class) and would flake the driver's value hash.
    perturb = os.environ.get("SPARK_GRAFT_PERTURB")
    cache = getattr(spark, "_nsjs_table_cache", None)
    if cache is None:
        cache = {}
        spark._nsjs_table_cache = cache
    df = cache.get(path)  # the pinned base, shared by every variant
    if df is None:
        df = normalize_ts(spark.read.parquet(path),
                          _NANOS_TS_COLS.get(name, ()))
        _pin_if_broadcast_sized(spark, df)
        cache[path] = df
    if not perturb:
        return df
    if (path, perturb) not in cache:
        cache[(path, perturb)] = df.repartition(int(perturb))
    return cache[(path, perturb)]


def normalize_ts(df: DataFrame, nanos_cols=()) -> DataFrame:
    """Turn ``df``'s time columns into TIMESTAMP: a ``nanos_cols``
    column read as nanos-since-epoch BIGINT becomes
    ``timestamp_micros(c div 1000)`` and any TIMESTAMP_NTZ is cast.
    The one normalization for batch (``load_table``) and stream
    (``log_stream.read_log_stream``) reads of the same files."""
    from pyspark.sql import functions as F

    for c, dtype in df.dtypes:
        if c in nanos_cols and dtype == "bigint":
            # integer `div`, NOT float division: nanos exceed 2^53, so
            # a double round-trip is off by ±1µs on recent timestamps
            df = df.withColumn(
                c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every catalog table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
