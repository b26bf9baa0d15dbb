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
#     ILLEGAL); we read raw int64 nanos via the legacy conf and restore
#     TimestampType (values are µs-aligned, so ns→µs is lossless);
#   - TIMESTAMP(MICROS, isAdjustedToUTC=false): loads as TIMESTAMP_NTZ,
#     which unix_micros / numeric casts / unions-with-TIMESTAMP reject.
# Both are normalized to plain TIMESTAMP here, once, so every operator
# downstream sees one type.  The session timezone is pinned to UTC
# (session.py), so NTZ→TIMESTAMP is value-identical to DuckDB's naive
# reading of the same parquet.
_NANOS_TS_COLS = {"events": ("ts",)}

# Tables whose downstream operators are CPU-bound per row (text
# kernels: tokenize/quality/shingle/HTML/codec).  The driver's test
# data ships each table as ONE parquet file with one row group, so a
# plain scan is a single task and every expression above it runs
# serially no matter how many cores the session has (the guide's
# "input skew: one huge unsplittable file … repartition immediately
# after the read" case).  When such a table arrives with fewer scan
# partitions than the cluster's parallelism, spread it once at the
# catalog boundary; a wide input (the 100 TB case, thousands of
# splits) is left untouched, so the exchange exists only when the
# input is too narrow to use the machine.  Value-safety of a catalog
# repartition is exactly what the --perturb determinism gate proves
# for every registered query (it re-shards every scan this same way).
_SPREAD_TABLES = {"documents", "embeddings"}


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None,
               spread: bool = True) -> DataFrame:
    """Scan a catalog table. Lazy; nothing runs until an action.

    The normalized DataFrame is memoized per (session, path): the
    ``df.dtypes`` probe and the cast projection cost a JVM round-trip
    per call, and every registry query re-loads its tables, so without
    the cache the bench pays that fixed cost 122+ times per run
    (flagged as the suspected `funnel_view_click_purchase` regression
    in round 3).  DataFrames are immutable, so handing the same plan
    object to every caller is safe; the cache dies with the session
    object, and test data never mutates mid-session.
    """
    path = table_path(sf_dir or DEFAULT_SF_DIR, name)
    # Determinism-gate seam (tools/check_correctness.py --perturb): when
    # SPARK_GRAFT_PERTURB=<n> is set, every catalog scan is re-sharded
    # into n partitions, permuting aggregation accumulation order.  Any
    # query whose VALUES change under two different n is order-
    # nondeterministic (the r11 tpch_q11 half-cent ROUND(SUM(double))
    # class) and would flake the driver's value hash.
    perturb = os.environ.get("SPARK_GRAFT_PERTURB")
    spread_env = os.environ.get("NSJS_CATALOG_SPREAD", "1")
    cache_key = (path, perturb, bool(spread), spread_env)
    cache = getattr(spark, "_nsjs_table_cache", None)
    if cache is None:
        cache = {}
        spark._nsjs_table_cache = cache
    if cache_key in cache:
        return cache[cache_key]
    nanos_cols = _NANOS_TS_COLS.get(name, ())
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F
    for c, dtype in df.dtypes:
        if c in nanos_cols and dtype == "bigint":
            # integer `div`, NOT float division: nanos exceed 2^53, so a
            # double round-trip is off by ±1µs on recent timestamps
            df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
        elif dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if perturb:
        df = df.repartition(int(perturb))
    elif spread and name in _SPREAD_TABLES and spread_env != "0":
        # NSJS_CATALOG_SPREAD=0 disables the spread — the A/B seam the
        # r15 verdict asked for (measure the session-wide default on a
        # fixed query sample before trusting it); production value is
        # moot (wide inputs skip the branch via the partition probe).
        # ``spread=False`` is the per-CONSUMER opt-out (r16): the r15
        # default was measured net-negative for query families whose
        # plans shuffle the table immediately anyway (IVF/GEMM probes,
        # the BM25 explode->aggregate) — for those the catalog exchange
        # is pure per-stage overhead at 32 cores, while per-row CPU
        # kernels (codecs, shingles, quality gates) keep the win.
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:  # once per (session, path)
            df = df.repartition(target)
    cache[cache_key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every catalog table as a temp view for ``spark.sql``."""
    for name in TABLES:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
