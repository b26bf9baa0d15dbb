"""Channel-API reader: validation-before-execution, DSL predicates,
sort/skip/limit — reference mongo/channel/package.scala:250-319 and
error specs IntegrationMongoClientSpec.scala:59-129."""

from __future__ import annotations

import pytest

from nosql_join_stream_spark.catalog import UnknownTableError
from nosql_join_stream_spark.dsl import q
from nosql_join_stream_spark.engine import QueryValidationError
from nosql_join_stream_spark.mql import MQLParseError


def test_missing_table_fails_fast(engine):
    with pytest.raises(UnknownTableError):
        engine.read("no_such_collection")


def test_empty_table_name_fails(engine):
    with pytest.raises(QueryValidationError):
        engine.read("")


def test_invalid_mql_fails_before_execution(engine):
    with pytest.raises(MQLParseError):
        engine.read("orders", where='{"o_totalprice": {"$frobnicate": 1}}')


def test_invalid_sql_predicate_fails(engine):
    with pytest.raises(QueryValidationError):
        engine.read("orders", where="o_totalprice >>> 1")


def test_negative_limit_fails(engine):
    with pytest.raises(QueryValidationError):
        engine.read("orders", limit=-1)


def test_dsl_chain_matches_sql(engine):
    dsl_count = engine.read(
        "orders", where=q("o_totalprice").gte(1000.0).lte(50000.0)).count()
    sql_count = engine.read(
        "orders", where="o_totalprice >= 1000.0 AND o_totalprice <= 50000.0").count()
    assert dsl_count == sql_count


def test_sort_skip_limit(engine):
    full = [r.o_orderkey for r in engine.read(
        "orders", sort=[("o_totalprice", False), ("o_orderkey", True)],
        limit=30).select("o_orderkey").collect()]
    page = [r.o_orderkey for r in engine.read(
        "orders", sort=[("o_totalprice", False), ("o_orderkey", True)],
        skip=10, limit=20).select("o_orderkey").collect()]
    assert page == full[10:30]


def test_dsl_literal_type_check():
    with pytest.raises(TypeError):
        q("x").eq(object())


def test_runtime_error_propagates(spark, tmp_path):
    # reference T4: mid-stream fetch errors surface as stream failure
    # (error-injection modules, storage.scala:240-284). Spark analog: a
    # corrupt file fails the task -> the action raises; nothing is
    # silently swallowed.
    bad = tmp_path / "corrupt.parquet"
    bad.write_bytes(b"PAR1 this is not really parquet PAR1")
    df = spark.read.schema("a long").parquet(str(bad))
    import pytest
    from py4j.protocol import Py4JJavaError
    with pytest.raises(Exception):
        df.collect()


def test_load_multiple_formats_roundtrip(engine, spark, tmp_path):
    from nosql_join_stream_spark.engine import QueryValidationError
    src = engine.table("nation")
    want = {(r.n_nationkey, r.n_name) for r in src.collect()}
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        w = src.write.format(fmt).mode("overwrite")
        if fmt == "csv":
            w = w.option("header", "true")
        w.save(p)
        kw = {"schema": src.schema} if fmt in ("csv", "json") else {}
        opts = {"header": "true"} if fmt == "csv" else {}
        back = engine.load(p, fmt, **kw, **opts)
        got = {(r.n_nationkey, r.n_name) for r in back.collect()}
        assert got == want, fmt
    # row formats without a schema fail fast
    import pytest
    with pytest.raises(QueryValidationError):
        engine.load(str(tmp_path / "csv"), "csv")


def test_collect_with_timeout(engine, spark):
    from nosql_join_stream_spark.engine import QueryTimeoutError
    import pytest
    # fast query completes well inside the deadline
    rows = engine.collect_with_timeout(
        engine.table("nation").select("n_nationkey"), timeout_ms=60_000)
    assert len(rows) > 0
    # pathological query (lineitem x lineitem cross product) must be
    # cancelled at the deadline, not run to completion
    li = engine.table("lineitem").select("l_orderkey")
    slow = li.crossJoin(li.withColumnRenamed("l_orderkey", "r"))
    with pytest.raises(QueryTimeoutError):
        engine.collect_with_timeout(slow, timeout_ms=2_000)


class _RecorderReader:
    """Stands in for DataFrameReader: records format/schema/options and
    whether load() got a path — connector assembly without a live DB."""

    def __init__(self):
        self.fmt = None
        self.opts = {}
        self.loaded_path = "UNSET"

    def format(self, f):
        self.fmt = f
        return self

    def schema(self, s):
        return self

    def option(self, k, v):
        self.opts[k] = v
        return self

    def load(self, path=None):
        self.loaded_path = path
        return "DF"


class _FakeSpark:
    def __init__(self, reader):
        self.read = reader


def test_connector_mongodb_option_assembly():
    from nosql_join_stream_spark.engine import Engine
    rec = _RecorderReader()
    e = Engine(_FakeSpark(rec), "unused")
    out = e.load(fmt="mongodb", **{"connection.uri": "mongodb://h:27017",
                                   "database": "shop", "collection": "orders",
                                   "readPreference.name": "secondary"})
    assert out == "DF"
    assert rec.fmt == "mongodb"
    assert rec.opts["database"] == "shop"
    assert rec.opts["readPreference.name"] == "secondary"
    assert rec.loaded_path is None  # pathless source


def test_connector_cassandra_option_assembly():
    from nosql_join_stream_spark.engine import Engine
    rec = _RecorderReader()
    e = Engine(_FakeSpark(rec), "unused")
    e.load(fmt="org.apache.spark.sql.cassandra",
           keyspace="ks", table="events")
    assert rec.fmt == "org.apache.spark.sql.cassandra"
    assert rec.opts == {"keyspace": "ks", "table": "events"}
    assert rec.loaded_path is None


def test_connector_validation_fails_before_io():
    from nosql_join_stream_spark.engine import Engine, QueryValidationError
    rec = _RecorderReader()
    e = Engine(_FakeSpark(rec), "unused")
    with pytest.raises(QueryValidationError, match="collection"):
        e.load(fmt="mongodb", **{"connection.uri": "mongodb://h", "database": "d"})
    with pytest.raises(QueryValidationError, match="keyspace"):
        e.load(fmt="org.apache.spark.sql.cassandra", table="t")
    with pytest.raises(QueryValidationError, match="no path"):
        e.load("/some/path", fmt="mongodb",
               **{"connection.uri": "u", "database": "d", "collection": "c"})
    with pytest.raises(QueryValidationError, match="requires a path"):
        e.load(fmt="parquet")
    assert rec.loaded_path == "UNSET"  # nothing reached load()


def test_midscan_corruption_fails_loudly(engine, spark, tmp_path):
    # reference T4, the stronger form (storage.scala:240-284 injects
    # failures MID-stream): a parquet file whose footer is intact but
    # whose data pages are garbage passes planning, then fails inside
    # the scan task — the action must raise, not silently skip the
    # file (spark.sql.files.ignoreCorruptFiles stays false).
    import glob

    out = str(tmp_path / "multi")
    engine.table("orders").repartition(4).write.parquet(out)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) >= 2
    victim = files[1]
    raw = bytearray(open(victim, "rb").read())
    # trash the data pages; keep magic header and the footer
    # (len-4..len: metadata length + "PAR1") so planning succeeds
    for i in range(8, max(9, len(raw) - 2048)):
        raw[i] = 0x5A
    open(victim, "wb").write(bytes(raw))
    df = spark.read.parquet(out)  # planning OK — footers readable
    with pytest.raises(Exception):
        df.collect()


def test_variant_decode_option_semantics(spark, engine):
    """VARIANT schemaless decode: present fields extract typed,
    missing paths and mistyped extractions yield NULL (the reference's
    Option[T] decode), never an error."""
    from pyspark.sql import functions as F

    from nosql_join_stream_spark.typed import variant_decode

    rows = [(1, '{"k": 7, "s": "x", "nested": {"a": 1}}'),
            (2, '{"s": "only-string"}'),
            (3, '{"k": "not-an-int"}')]
    df = spark.createDataFrame(rows, "id long, props string")
    out = {r.id: (r.k_int, r.s_str, r.nested_a, r.absent)
           for r in variant_decode(
               df, "props",
               {"k_int": ("$.k", "int"),
                "s_str": ("$.s", "string"),
                "nested_a": ("$.nested.a", "int"),
                "absent": ("$.nope", "double")},
               keep=["id"]).collect()}
    assert out[1] == (7, "x", 1, None)
    assert out[2] == (None, "only-string", None, None)
    assert out[3][0] is None  # mistyped -> NULL, not an error


def test_python_datasource_json_docs_end_to_end(spark, tmp_path):
    """The connector seam in pure Python (Spark 4 DataSource API):
    partition-per-file planning, schemaless props, missing fields as
    typed NULLs — executed end-to-end in-container through the same
    Engine.load path the jar connectors use."""
    import json

    from nosql_join_stream_spark.engine import Engine
    from nosql_join_stream_spark.pydocsource import register_json_docs

    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.jsonl").write_text("\n".join([
        json.dumps({"doc_id": 1, "source": "web", "lang": "en",
                    "text": "hello world", "score": 0.9, "tags": ["x"]}),
        json.dumps({"doc_id": 2, "source": "web",
                    "text": "no lang field"}),
    ]))
    (d / "b.jsonl").write_text(
        json.dumps({"doc_id": 3, "lang": "de", "text": "hallo"}) + "\n")

    register_json_docs(spark)
    e = Engine(spark, "/root/testdata/sf0.001")
    df = e.load(str(d), fmt="json_docs")
    rows = {r.doc_id: r for r in df.collect()}
    assert set(rows) == {1, 2, 3}
    # one partition per file — the chunk/token-range analog
    assert df.rdd.getNumPartitions() == 2
    # missing declared fields decode as typed NULLs (Option contract)
    assert rows[2].lang is None and rows[3].source is None
    # undeclared fields land in the schemaless props JSON, typed
    # extraction downstream (the variant_decode path)
    props = json.loads(rows[1].props)
    assert props == {"score": 0.9, "tags": ["x"]}
    assert rows[3].props is None

    # filters/projections compose like any source
    assert df.filter("lang = 'en'").count() == 1

    # fail-fast: a file-backed source still requires a location
    import pytest

    from nosql_join_stream_spark.engine import QueryValidationError
    with pytest.raises(QueryValidationError, match="requires a path"):
        e.load(fmt="json_docs")


def test_perturb_seam_reshards_catalog_scans(spark, sf_dir):
    """The determinism gate's seam (SPARK_GRAFT_PERTURB): setting it
    re-shards every catalog scan to exactly N partitions, the cache
    keys on the setting (no cross-contamination within a session), and
    unsetting restores the plain scan — the mechanism behind
    check_correctness.py --perturb, which retired the r11 q11
    ROUND(SUM(double)) flake class."""
    import os

    from nosql_join_stream_spark.catalog import load_table

    plain = load_table(spark, "orders", sf_dir)
    try:
        os.environ["SPARK_GRAFT_PERTURB"] = "7"
        assert load_table(spark, "orders",
                          sf_dir).rdd.getNumPartitions() == 7
        os.environ["SPARK_GRAFT_PERTURB"] = "13"
        assert load_table(spark, "orders",
                          sf_dir).rdd.getNumPartitions() == 13
    finally:
        os.environ.pop("SPARK_GRAFT_PERTURB", None)
    # cache separation: the plain entry was not poisoned by the
    # perturbed loads, and values are identical under any sharding
    after = load_table(spark, "orders", sf_dir)
    assert after.rdd.getNumPartitions() == plain.rdd.getNumPartitions()


def test_catalog_scan_is_bare_and_spread_adds_one_exchange(spark, sf_dir):
    """The catalog hands back the bare (pinned) scan: no Exchange.
    ``spread`` adds exactly one exchange to a one-partition input and
    returns an input already as wide as the cluster unchanged."""
    from nosql_join_stream_spark.catalog import load_table
    from nosql_join_stream_spark.operators import spread

    def exchanges(df):
        return df._jdf.queryExecution().executedPlan().toString() \
                 .count("Exchange")

    docs = load_table(spark, "documents", sf_dir)
    assert exchanges(docs) == 0
    narrow = docs.coalesce(1)
    assert exchanges(narrow) == 0
    assert exchanges(spread(narrow)) == 1
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    assert spread(wide) is wide


def test_log_from_reads_one_key_without_range_exchange(engine):
    """One key's log is one ordered stream: the sort runs in a single
    partition, so the executed plan has no range exchange (and no
    sampling job), and the rows come back strictly ascending with the
    filtered count."""
    from pyspark.sql import functions as F

    df = engine.log_from("events", key=7, offset=100)
    ids = [r.event_id for r in df.collect()]
    plan = df._jdf.queryExecution().executedPlan().toString().lower()
    assert "rangepartitioning" not in plan, plan
    assert ids and all(a < b for a, b in zip(ids, ids[1:]))
    events = engine.table("events")
    assert len(ids) == events.filter((F.col("user_id") == 7)
                                     & (F.col("event_id") >= 100)).count()


def test_load_table_pins_broadcast_sized_tables(spark, sf_dir, tmp_path):
    """A table within spark.sql.autoBroadcastJoinThreshold is pinned in
    Spark's columnar cache; with the threshold disabled (-1) the same
    table, copied to a fresh sf dir, is scanned from parquet."""
    import shutil

    from nosql_join_stream_spark.catalog import load_table

    def scans_memory(df):
        plan = df.filter("n_nationkey >= 0")._jdf.queryExecution() \
            .executedPlan().toString()
        return "InMemoryTableScan" in plan

    pinned = load_table(spark, "nation", sf_dir)
    assert pinned.is_cached and scans_memory(pinned)

    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "nation.parquet")
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plain = load_table(spark, "nation", str(tmp_path))
    finally:
        spark.conf.set(key, old)
    assert not plain.is_cached and not scans_memory(plain)
