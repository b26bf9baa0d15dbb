"""Driver-facing query registry.

Every implemented operator from SURVEY.md §2 gets a named entry here:
a PySpark builder ``fn(spark, sf_dir) -> DataFrame`` plus (when
SQL-expressible) a DuckDB oracle string over the same parquet tables.
Column names/aliases are kept identical on both sides — the driver
sorts columns by name and hash-compares values (see repo README /
driver contract in __spark_entry__.py).

Float policy: any aggregate/derived float column is rounded (usually
2-6 dp) IN BOTH the Spark query and the oracle, so summation-order
differences between engines can't flip the hash.  Rounding in PYTHON
KERNELS must be half-AWAY-from-zero (Spark F.round / DuckDB ROUND),
never numpy/python's half-even: values that are arithmetic on already-
rounded decimals land on exact .5 boundaries routinely, and the two
rules then diverge by 1 ulp of the rounding grain (caught at sf0.001
in round 5 on MMR scores).
"""

from __future__ import annotations

import atexit
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nosql_join_stream_spark.engine import Engine
from nosql_join_stream_spark.dsl import q
from nosql_join_stream_spark.operators.join import inner_join

# --- standing-artifact location ------------------------------------------
# Queries with build-once-serve-many semantics (standing dedup/ANN
# indexes, CDC tables, stream run dirs) key their artifact dir on a
# SESSION-UNIQUE token, not the bare pid: pids recycle, so a later
# process could inherit a stale artifact built from different data and
# silently serve it against a fresh oracle (r11 advisor).  The token is
# minted once per interpreter; every dir handed out is rmtree'd at
# process exit so temp space doesn't accumulate across runs.

_RUN_TOKEN = uuid.uuid4().hex[:12]
_ARTIFACT_DIRS: set[str] = set()


def artifact_dir(prefix: str, tag: str) -> str:
    """Session-scoped standing-artifact directory (stable within this
    process, collision-free across processes, cleaned up at exit)."""
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{_RUN_TOKEN}_{tag}")
    _ARTIFACT_DIRS.add(d)
    return d


def sf_tag(sf_dir: str) -> str:
    """Artifact tag for a catalog dir: the human-readable basename PLUS
    a digest of the normalized absolute path.  The run token protects
    standing artifacts across processes; the path digest protects
    within one — two catalogs sharing a basename (e.g. copies of
    sf0.01 under different roots) must never reuse each other's
    standing indexes/exports (r12 advisor)."""
    p = os.path.abspath(os.path.normpath(sf_dir))
    base = os.path.basename(p).replace(".", "_")
    return f"{base}_{hashlib.sha256(p.encode()).hexdigest()[:8]}"


@atexit.register
def _cleanup_artifact_dirs() -> None:
    for d in _ARTIFACT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


@dataclass
class QueryDef:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None → non-SQL-expressible (driver rows-only check)
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(name, fn, oracle, doc)
        return fn
    return deco


def _engine(spark: SparkSession, sf_dir: str) -> Engine:
    return Engine(spark, sf_dir)


# ---------------------------------------------------------------------------
# Reference parity: the join (SURVEY §2.2 J1/J2)
# ---------------------------------------------------------------------------

@register(
    "join_fk_inner",
    """
    SELECT s.s_suppkey AS s_suppkey, s.s_name AS s_name,
           l.l_orderkey AS l_orderkey, l.l_linenumber AS l_linenumber,
           l.l_quantity AS l_quantity,
           s.s_name || ' measured ' || CAST(l.l_quantity AS VARCHAR) AS msg
    FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    """,
    doc="Flagship: reference Join[CassandraProcess].inner sensors⋈temperature "
        "(JoinCassandraSpec.scala:36-47) — one-to-many FK equi-join with a "
        "string-interpolation mapper; broadcast the dimension side.",
)
def join_fk_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    supplier = e.table("supplier")
    lineitem = e.table("lineitem")
    return inner_join(
        supplier, lineitem,
        on=supplier["s_suppkey"] == lineitem["l_suppkey"],
        mapper=lambda j: [
            j["s_suppkey"].alias("s_suppkey"),
            j["s_name"].alias("s_name"),
            j["l_orderkey"].alias("l_orderkey"),
            j["l_linenumber"].alias("l_linenumber"),
            j["l_quantity"].alias("l_quantity"),
            F.concat(j["s_name"], F.lit(" measured "),
                     j["l_quantity"].cast("string")).alias("msg"),
        ],
        broadcast_outer=True,
    )


@register(
    "join_outer_filtered",
    """
    SELECT n.n_nationkey AS n_nationkey, n.n_name AS n_name,
           c.c_custkey AS c_custkey,
           c.c_name || ' uses ' || n.n_name AS msg
    FROM (SELECT * FROM nation WHERE n_nationkey BETWEEN 0 AND 5) n
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    """,
    doc="Reference JoinMongoSpec flagship: outer langs filtered "
        "'index' $gte 0 $lte 5 (JoinMongoSpec.scala:41-45), inner "
        "programmers matched on the FK, mapper interpolates names.",
)
def join_outer_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    nation = e.read("nation", where=q("n_nationkey").gte(0).lte(5))
    customer = e.table("customer")
    return inner_join(
        nation, customer,
        on=nation["n_nationkey"] == customer["c_nationkey"],
        mapper=lambda j: [
            j["n_nationkey"].alias("n_nationkey"),
            j["n_name"].alias("n_name"),
            j["c_custkey"].alias("c_custkey"),
            F.concat(j["c_name"], F.lit(" uses "), j["n_name"]).alias("msg"),
        ],
        broadcast_outer=True,
    )


@register(
    "join_salted_skew",
    """
    SELECT l.l_orderkey AS orderkey, l.l_linenumber AS l_linenumber,
           l.l_quantity AS l_quantity, o.o_custkey AS o_custkey,
           o.o_orderstatus AS o_orderstatus
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="Skew-resilient salted equi-join: fact side salted on a row hash, "
        "dimension side replicated per salt, shuffle key (key, salt) — "
        "joined multiset identical to the plain join (the oracle), hot "
        "keys spread over num_salts reducers.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.operators.join import salted_join
    e = _engine(spark, sf_dir)
    fact = e.table("lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_linenumber", "l_quantity")
    dim = e.table("orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_custkey", "o_orderstatus")
    return salted_join(fact, dim, on="orderkey", num_salts=8)


@register(
    "join_salted_auto",
    """
    SELECT l.l_orderkey AS orderkey, l.l_linenumber AS l_linenumber,
           l.l_quantity AS l_quantity, o.o_custkey AS o_custkey
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="Salted join with num_salts='auto' (r10): the salt count is "
        "sized from a bounded sample of the fact side's hot-key share "
        "(ceil(hot_share x shuffle parallelism), AQE's skew rule) "
        "instead of a blind constant — a 64x-skewed key at 16x data "
        "gets proportionally more salts where a fixed 16 saturates, "
        "and a uniform fact degenerates to 1 salt (no replication). "
        "Result multiset is the plain join, which IS the oracle.",
)
def join_salted_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.operators.join import salted_join
    e = _engine(spark, sf_dir)
    fact = e.table("lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_linenumber", "l_quantity")
    dim = e.table("orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_custkey")
    return salted_join(fact, dim, on="orderkey", num_salts="auto")


# ---------------------------------------------------------------------------
# Reference parity: predicates / sort / skip / limit (SURVEY §2.3-2.4)
# ---------------------------------------------------------------------------

@register(
    "pred_surface",
    """
    SELECT p_partkey, p_name, p_brand, p_type, p_size, p_retailprice
    FROM part
    WHERE p_size >= 10 AND p_size <= 40
      AND p_brand <> 'Brand#3'
      AND (p_size IN (11, 13, 17, 19, 23) OR p_retailprice > 1500.0)
      AND p_size NOT IN (29, 31)
    """,
    doc="DSL predicate surface P1-P5,P7 (mongo/package.scala:82-120): "
        "gte+lte chain, ne, isin, nin, and/or composition.",
)
def pred_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    pred = (q("p_size").gte(10).lte(40)
            & q("p_brand").ne("Brand#3")
            & (q("p_size").isin(11, 13, 17, 19, 23) | q("p_retailprice").gt(1500.0))
            & q("p_size").nin(29, 31))
    return e.read("part", where=pred).select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")


@register(
    "pred_all_array",
    """
    SELECT doc_id, n_chars
    FROM documents
    WHERE list_has_all(string_split(text, ' '), ['spark', 'join'])
    """,
    doc="$all array-containment (reference mongo/package.scala:89) over a "
        "tokenized text column; compiles to array_except == [] JVM-side.",
)
def pred_all_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    docs = e.table("documents").withColumn("toks", F.split(F.col("text"), " "))
    return (docs.filter(q("toks").all("spark", "join").column())
                .select("doc_id", "n_chars"))


@register(
    "join_left_anti",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
    doc="Left-anti join (customers with no high-value order): absent from the "
        "reference (inner-only, SURVEY §2.2) — free from Spark via "
        "how='left_anti', one broadcast/shuffle hash join, no NOT-IN "
        "null traps.",
)
def join_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    c = e.table("customer")
    o = e.table("orders").filter(F.col("o_totalprice") > 300000)
    return (c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
             .select("c_custkey", "c_name"))


@register(
    "sql_exists_decorrelated",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """,
    doc="Engine.sql passthrough (reference P9 raw-string queries): a "
        "correlated EXISTS subquery — Catalyst decorrelates it into a "
        "left-semi hash join; the reference's correlated innerQ per "
        "record IS this pattern, executed N+1.",
)
def sql_exists_decorrelated(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    return e.sql("""
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
    """)


@register(
    "pred_date_mql",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '2000-07-15 12:00:00'
    """,
    doc="MQL typed date literal (reference format 'dd MMM yyyy "
        "hh:mm:ss:SSS a z', mongo/package.scala:133) compiled to a "
        "pushed-down timestamp range predicate.",
)
def pred_date_mql(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    mql = ('{"$and": [{"o_orderdate": {"$gte": "01 Jan 1998 12:00:00:000 AM UTC"}}, '
           '{"o_orderdate": {"$lt": "15 Jul 2000 12:00:00:000 PM UTC"}}]}')
    return e.read("orders", where=mql).select(
        "o_orderkey", "o_orderdate", "o_totalprice")


@register(
    "sort_skip_limit",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    OFFSET 10 LIMIT 25
    """,
    doc="sort + skip + limit (reference O1-O3, dsl/package.scala:48-58, "
        "applied at storage.scala:598-602); unique tie-break key makes the "
        "row set deterministic. Catalyst: TakeOrderedAndProject.",
)
def sort_skip_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    return e.read(
        "orders",
        sort=[("o_totalprice", False), ("o_orderkey", True)],
        skip=10, limit=25,
    ).select("o_orderkey", "o_custkey", "o_totalprice")


@register(
    "mql_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE l_quantity >= 30 AND l_returnflag = 'R'
      AND l_linenumber IN (1, 2, 3)
    """,
    doc="MQL string front end (reference mqlparser/package.scala:67-235): "
        "multi-selector + implicit-eq + $in, parsed to one pushed-down Column.",
)
def mql_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    mql = '{"l_quantity": {"$gte": 30}, "l_returnflag": "R", "l_linenumber": {"$in": [1, 2, 3]}}'
    return e.read("lineitem", where=mql).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "mql_not_filter",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
    FROM lineitem
    WHERE (NOT (l_quantity > 30) OR l_quantity IS NULL)
      AND l_returnflag = 'R'
    """,
    doc="MQL $not operator negation (mqlparser/package.scala:79 lists "
        "$not among the range tokens) with Mongo's missing-field "
        "semantics: NULL rows match the negation, which SQL's "
        "three-valued NOT alone would drop.",
)
def mql_not_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    mql = '{"l_quantity": {"$not": {"$gt": 30}}, "l_returnflag": "R"}'
    return e.read("lineitem", where=mql).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


@register(
    "typed_as_projection",
    """
    SELECT event_id,
           CAST(user_id AS VARCHAR) AS user_str,
           TRY_CAST(event_type AS DOUBLE) AS et_num,
           CAST(NULL AS INTEGER) AS missing_field
    FROM events
    """,
    doc="as[T] typed projection (reference mongo/channel/package.scala:194-203, "
        "mongotypes/package.scala:73-205): null-on-failure casts (try_cast), "
        "missing fields become typed NULLs, never errors.",
)
def typed_as_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    ev = e.table("events")
    return ev.select(
        F.col("event_id"),
        F.col("user_id").cast("string").alias("user_str"),
        F.col("event_type").try_cast("double").alias("et_num"),
        F.lit(None).cast("int").alias("missing_field"),
    )


@register(
    "variant_schemaless_decode",
    """
    SELECT event_id,
           CAST(props->>'$.k' AS INTEGER) AS k_int,
           CAST(props->>'$.missing' AS VARCHAR) AS missing_field
    FROM events
    WHERE CAST(props->>'$.k' AS INTEGER) >= 50
    """,
    doc="Schemaless-document decode via the VARIANT type — the "
        "faithful Mongo-DBObject contract (SURVEY §1.3: schemaless "
        "nested maps; mongotypes/package.scala:77-105 Option decode): "
        "the JSON payload parses ONCE to binary variant, fields "
        "extract with try_variant_get (missing/mistyped => typed "
        "NULL, never an error), and the extracted value filters "
        "downstream. No per-field string re-parse.",
)
def variant_schemaless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.typed import variant_decode
    e = _engine(spark, sf_dir)
    out = variant_decode(
        e.table("events"), "props",
        {"k_int": ("$.k", "int"),
         "missing_field": ("$.missing", "string")},
        keep=["event_id"])
    return out.filter(F.col("k_int") >= 50)


# ---------------------------------------------------------------------------
# Reference parity: partitioned event-log scan (SURVEY §2.1 S7-S8, §3.3)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Reference parity: stream combinators (SURVEY §2.5)
# ---------------------------------------------------------------------------

@register(
    "zip_streams",
    """
    WITH l AS (SELECT event_id AS l_event_id, value AS l_value,
                      row_number() OVER (ORDER BY event_id) AS pos
               FROM events WHERE user_id = 3),
         r AS (SELECT event_id AS r_event_id, value AS r_value,
                      row_number() OVER (ORDER BY event_id) AS pos
               FROM events WHERE user_id = 5)
    SELECT l_event_id, l_value, r_event_id, r_value,
           ROUND(l_value + r_value, 2) AS pair_sum
    FROM l JOIN r USING (pos)
    """,
    doc="zip/zipWith (reference mongo/channel/package.scala:92-108): "
        "positional pairing of two ordered streams, stops at the shorter "
        "(PartitionedLogCassandraSpec.scala:116-152). Order-defined via "
        "row_number; pairs two users' event logs.",
)
def zip_streams_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.operators.combinators import zip_with
    e = _engine(spark, sf_dir)
    left = e.log_from("events", key=3).select("event_id", "value")
    right = e.log_from("events", key=5).select("event_id", "value")
    return zip_with(
        left, right, ["event_id"], ["event_id"],
        mapper=lambda z: [
            z["l_event_id"], z["l_value"], z["r_event_id"], z["r_value"],
            F.round(z["l_value"] + z["r_value"], 2).alias("pair_sum"),
        ])


@register(
    "either_merge",
    """
    SELECT c_name AS name, c_acctbal AS acctbal, 'left' AS side
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT s_name AS name, s_acctbal AS acctbal, 'right' AS side
    FROM supplier
    """,
    doc="either (reference wye.either nondeterministic merge, "
        "mongo/channel/package.scala:129-131) → tagged union; the reference "
        "asserts only the combined multiset (IntegrationMongoClientSpec:181-206).",
)
def either_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.operators.combinators import either_merge
    e = _engine(spark, sf_dir)
    left = (e.read("customer", where=q("c_mktsegment").eq("BUILDING"))
            .select(F.col("c_name").alias("name"),
                    F.col("c_acctbal").alias("acctbal")))
    right = e.table("supplier").select(
        F.col("s_name").alias("name"), F.col("s_acctbal").alias("acctbal"))
    return either_merge(left, right)


@register(
    "concat_logs",
    """
    SELECT * FROM (
      SELECT 0 AS __src, event_id, user_id, value FROM events WHERE user_id = 1
      UNION ALL
      SELECT 1 AS __src, event_id, user_id, value FROM events WHERE user_id = 2
    ) ORDER BY __src, event_id
    """,
    doc="++ sequential concat of two logs (reference SportCenterSpec.scala:88, "
        "okcFeed.source ++ cleFeed.source) with an explicit order contract.",
)
def concat_logs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.operators.combinators import concat_streams
    e = _engine(spark, sf_dir)
    a = e.log_from("events", key=1).select("event_id", "user_id", "value")
    b = e.log_from("events", key=2).select("event_id", "user_id", "value")
    return concat_streams(a, b, order_col="event_id").select(
        "__src", "event_id", "user_id", "value")


# ---------------------------------------------------------------------------
# Streaming (SURVEY §2.7): unbounded log + event-time window
# ---------------------------------------------------------------------------

@register(
    "stream_windowed_counts",
    """
    SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS w_start,
           event_type,
           count(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
    doc="Structured Streaming over the event log (reference S7/S8 unbounded "
        "scan): readStream parquet → watermark → tumbling window agg, drained "
        "with Trigger.AvailableNow into a memory sink; complete-mode result "
        "equals the batch aggregation, so it IS oracle-checkable.",
)
def stream_windowed_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        read_log_stream, run_available_now, windowed_counts)
    from nosql_join_stream_spark.catalog import table_path
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    return run_available_now(windowed_counts(stream), "stream_windowed_counts")


@register(
    "stream_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type FROM events
    """,
    doc="Streaming dedup with bounded state (dropDuplicatesWithinWatermark): "
        "one state entry per key until the watermark passes; append-mode "
        "key-only output is deterministic and equals batch DISTINCT.",
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        dedup_stream, read_log_stream, run_available_now)
    from nosql_join_stream_spark.catalog import table_path
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    return run_available_now(dedup_stream(stream, ["user_id", "event_type"]),
                             "stream_dedup_keys", output_mode="append")


@register(
    "stream_static_enrich",
    """
    SELECT e.event_id AS event_id, e.user_id AS user_id,
           e.event_type AS event_type, e.value AS value,
           c.c_name AS c_name, c.c_nationkey AS c_nationkey
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
    doc="Stream-static join: unbounded event log enriched with a broadcast "
        "batch dimension per micro-batch — no stream-side shuffle, no state "
        "store; drained append result equals the batch join.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        enrich_stream, read_log_stream, run_available_now)
    from nosql_join_stream_spark.catalog import table_path, load_table
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    cust = load_table(spark, "customer", sf_dir)
    joined = enrich_stream(
        stream, cust, on=stream["user_id"] == cust["c_custkey"],
        select_cols=["event_id", "user_id", "event_type", "value",
                     "c_name", "c_nationkey"])
    return run_available_now(joined, "stream_enrich", output_mode="append")


@register(
    "stream_interval_join",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id, p.value AS purchase_value
    FROM events p JOIN events c
      ON p.user_id = c.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
    doc="Stream-stream interval join (purchases x clicks within the "
        "preceding hour, same user): watermarks + the time bound keep "
        "both join state stores bounded; drained append result equals "
        "the batch theta join.",
)
def stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_streams, read_log_stream, run_available_now)
    from nosql_join_stream_spark.catalog import table_path
    purchases = (read_log_stream(spark, table_path(sf_dir, "events"))
                 .filter("event_type = 'purchase'"))
    clicks = (read_log_stream(spark, table_path(sf_dir, "events"))
              .filter("event_type = 'click'"))
    joined = interval_join_streams(purchases, clicks, key="user_id",
                                   within="1 hour")
    out = joined.select(F.col("l.event_id").alias("purchase_id"),
                        F.col("r.event_id").alias("click_id"),
                        F.col("l.user_id").alias("user_id"),
                        F.col("l.value").alias("purchase_value"))
    return run_available_now(out, "stream_ij", output_mode="append")


@register(
    "stream_interval_join_outer",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           p.user_id AS user_id, p.value AS purchase_value
    FROM events p LEFT JOIN events c
      ON p.user_id = c.user_id AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    WHERE p.event_type = 'purchase'
    """,
    doc="LEFT OUTER stream-stream interval join with a FULL oracle "
        "(closing r6's contract-test-only caveat): unmatched "
        "purchases — the interesting side of the attribution query — "
        "are NULL-emitted only once the watermark proves no click "
        "can still arrive, so a finite backfill withholds the tail "
        "forever.  interval_join_outer_flush_drain stages the log "
        "plus a far-future flush sentinel PER SIDE (the global "
        "watermark is the min across both watermark nodes — one "
        "side alone measurably leaves rows withheld) and drains "
        "with AvailableNow; the parquet-sink contents then equal "
        "the batch LEFT JOIN row for row, including every NULL "
        "tail row.  Result filtering happens batch-side after the "
        "sink: a post-join filter on the streaming result "
        "suppresses NULL emission entirely (measured; pinned in "
        "tests/test_streaming.py).",
)
def stream_interval_join_outer(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_outer_flush_drain)
    from nosql_join_stream_spark.catalog import table_path
    tag = sf_tag(sf_dir)
    run_dir = artifact_dir("nsjs_ijo", tag)
    df = interval_join_outer_flush_drain(
        spark, table_path(sf_dir, "events"), run_dir)
    return df.select(F.col("left_id").alias("purchase_id"),
                     F.col("right_id").alias("click_id"),
                     "user_id",
                     F.col("left_value").alias("purchase_value"))


@register(
    "stream_interval_join_full",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           COALESCE(p.user_id, c.user_id) AS user_id,
           p.value AS purchase_value, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    FULL JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
    doc="FULL OUTER stream-stream interval join with a full oracle "
        "(r8-VERDICT lead #8 — the last unbuilt outer-join form): "
        "both abandonment tails of the attribution query in one "
        "pass — click-less purchases AND purchase-less clicks, each "
        "NULL-emitted only once the watermark proves no partner can "
        "still arrive (left rows at their own timestamp, right rows "
        "at ts + interval).  interval_join_outer_flush_drain(how="
        "'fullOuter') stages "
        "the log plus the per-side far-future flush sentinel and "
        "drains with AvailableNow, after which the parquet sink "
        "equals the batch FULL JOIN row for row, including BOTH "
        "NULL tails; the result filter (sentinel removal on the "
        "coalesced key) happens batch-side after the sink — the "
        "streaming-post-join-filter hazard of the LEFT form applies "
        "unchanged.",
)
def stream_interval_join_full(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_outer_flush_drain)
    from nosql_join_stream_spark.catalog import table_path
    tag = sf_tag(sf_dir)
    run_dir = artifact_dir("nsjs_ijf", tag)
    df = interval_join_outer_flush_drain(
        spark, table_path(sf_dir, "events"), run_dir, how="fullOuter")
    return df.select(F.col("left_id").alias("purchase_id"),
                     F.col("right_id").alias("click_id"),
                     "user_id",
                     F.col("left_value").alias("purchase_value"),
                     F.col("right_value").alias("click_value"))


@register(
    "stream_sessionize_stateful",
    """
    WITH gaps AS (
      SELECT user_id, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events)
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM gaps GROUP BY user_id
    """,
    doc="Custom stateful streaming operator (applyInPandasWithState): "
        "per-user running 30-min-gap session stats, one fixed-width state "
        "row per user; cumulative emissions folded with max(struct(...)) so "
        "the final answer is batch-split-invariant and oracle-checkable.",
)
def stream_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        read_log_stream, run_available_now, stateful_session_stats)
    from nosql_join_stream_spark.catalog import table_path
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    # per-key Python state (applyInPandasWithState): keep 8 stores —
    # the r16 sweep shows this form WANTS the parallelism (1.97 s at 8
    # vs 2.43 at 4 vs 3.49 at 2), unlike the stateful-join/agg forms
    updates = run_available_now(stateful_session_stats(stream),
                                "stream_sessionize", output_mode="update",
                                shuffle_partitions=8)
    final = F.max(F.struct("n_events", "n_sessions", "sum_value")).alias("s")
    return (updates.groupBy("user_id").agg(final)
            .select("user_id", F.col("s.n_sessions").alias("n_sessions"),
                    F.col("s.n_events").alias("n_events"),
                    F.col("s.sum_value").alias("sum_value")))


@register(
    "stream_session_window",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                  OR ts - lag(ts) OVER (PARTITION BY user_id
                                        ORDER BY ts, event_id)
                     >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS ns
      FROM events),
    s AS (
      -- RANGE frame over ts alone: rows tied on ts share one sid
      -- (at most one ns=1 per tie group — dt=0 rows never cut)
      SELECT user_id, ts, value,
             SUM(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      FROM g)
    SELECT user_id,
           MIN(ts) AS s_start,
           MAX(ts) + INTERVAL 30 MINUTE AS s_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM s GROUP BY user_id, sid
    """,
    doc="NATIVE session-window streaming aggregation "
        "(F.session_window — the built-in dynamic-gap operator, "
        "complementing the applyInPandasWithState sessionizer): one "
        "row per (user, session), sessions merged while consecutive "
        "events arrive within 30 minutes, end = last event + gap "
        "(Spark's [start, last+gap) contract — the oracle replays it "
        "as gaps-and-islands with the >= gap cut).  State store "
        "merges windows; the watermark bounds it on an unbounded "
        "stream; complete-mode drain equals the batch computation.",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nosql_join_stream_spark.streaming.log_stream import (
        read_log_stream, run_available_now, session_window_agg)
    from nosql_join_stream_spark.catalog import table_path
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    return run_available_now(session_window_agg(stream), "stream_sesswin")


@register(
    "log_scan_offset",
    """
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE user_id = 7 AND event_id >= 100
    ORDER BY event_id
    """,
    doc="Log[M].from(query, key, offset) (reference log/package.scala:56-62): "
        "forward scan of one key from an offset; partition hopping replaced "
        "by predicate pushdown + partition pruning.",
)
def log_scan_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _engine(spark, sf_dir)
    return e.log_from("events", key=7, offset=100).select(
        "event_id", "user_id", "event_type", "value")


# Sibling registries (imported for their @register side effects; at the
# bottom so they can import `register` from this module).
from nosql_join_stream_spark import queries_analytics  # noqa: E402,F401
from nosql_join_stream_spark import queries_pipeline  # noqa: E402,F401

# The driver's correctness gate checks the FIRST 50 registry entries, so
# registration order is part of the external contract.  Front-load one
# flagship per operator family (reference-parity surface + every LLM-
# pipeline family) so each gets a driver-verified CORRECTNESS row; the
# remaining queries keep their registration order and stay covered by
# tools/check_correctness.py.
_DRIVER_WINDOW = [
    # Round-15 rotation — never-stamped-first, then this round's
    # new/changed queries, then oldest-stamp.  The 4 late-r14
    # arrivals lead (the r14 VERDICT's #1 ask); next the r15 work
    # (mine_bitext_margin_ivf, pipeline_crawl_url_dedup,
    # text_quality_ppl_standing new; multimodal_decode_audio_multi
    # re-stamped because its plant/oracle gained the IMA leg); the
    # remaining 42 slots drain the r10 cohort head in registry
    # order.  Post-r15 state if green: oldest stamp r10 (8-query
    # tail: multimodal_patch_grid onward).  The r16 window should
    # lead with the 12 queries REGISTERED AFTER this window froze
    # (never-stamped: text_repetition_filter,
    # pipeline_crawl_redirects, web_anchor_text,
    # pipeline_crawl_robots, stream_repetition_filter,
    # multimodal_image_dhash, multimodal_image_dhash_pairs,
    # multimodal_video_shots, export_tfrecord_shards,
    # export_tfrecord_roundtrip, multimodal_audio_fingerprint,
    # pipeline_crawl_frontier), then the r10 tail, then
    # oldest-stamp order.
    "text_quality_unigram_ppl", "mine_bitext_margin",
    "stream_html_extract", "pipeline_crawl_extract",
    "mine_bitext_margin_ivf", "pipeline_crawl_url_dedup",
    "text_quality_ppl_standing", "multimodal_decode_audio_multi",
    # r10-stamp cohort head, registry order
    "join_fk_inner", "join_salted_skew", "join_salted_auto",
    "pred_surface", "pred_all_array", "sql_exists_decorrelated",
    "pred_date_mql", "sort_skip_limit", "typed_as_projection",
    "zip_streams", "stream_windowed_counts", "stream_dedup_keys",
    "stream_static_enrich", "stream_interval_join",
    "stream_sessionize_stateful", "log_scan_offset",
    "agg_approx_percentiles", "tpch_q3_shipping_priority",
    "tpch_q10_returned_items", "tpch_q18_large_volume",
    "tpch_q6_forecast_revenue", "tpch_q14_promo_effect",
    "tpch_q19_discounted_revenue", "tpch_q4_order_priority",
    "dedup_simhash", "text_quality", "multimodal_features",
    "multimodal_decode_mixed", "pipeline_clean_corpus",
    "data_quality_report", "pipeline_split_safe",
    "embedding_quantize", "embedding_jl_project",
    "embedding_pca_witness", "text_tfidf_topk", "sample_stratified",
    "doc_pack_sequences", "cluster_assign_kmeans",
    "stream_quality_filter", "dedup_incremental_batch",
    "text_novelty_ratio", "stream_decontaminate",
]


def _apply_driver_window() -> None:
    missing = [n for n in _DRIVER_WINDOW if n not in REGISTRY]
    if missing:  # renames must break loudly, not silently shrink coverage
        raise RuntimeError(f"_DRIVER_WINDOW names not registered: {missing}")
    ordered = {n: REGISTRY[n] for n in _DRIVER_WINDOW}
    ordered.update((n, qd) for n, qd in REGISTRY.items() if n not in ordered)
    REGISTRY.clear()
    REGISTRY.update(ordered)


_apply_driver_window()
