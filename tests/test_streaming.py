"""Streaming event-log (reference S7/S8 unbounded scan → Structured
Streaming). Batch-equivalence: draining the finite backfill with
AvailableNow must reproduce the batch answer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from nosql_join_stream_spark.catalog import table_path
from nosql_join_stream_spark.streaming.log_stream import (
    read_log_stream, run_available_now, windowed_counts)


def test_stream_scan_offset_matches_batch(spark, engine, sf_dir):
    stream = read_log_stream(spark, table_path(sf_dir, "events"), key=7, offset=100)
    q = (stream.writeStream.outputMode("append")
         .format("memory").queryName("t_scan")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("t_scan").count()
    want = engine.log_from("events", key=7, offset=100).count()
    assert got == want


def test_windowed_counts_match_batch(spark, engine, sf_dir):
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    sink = run_available_now(windowed_counts(stream), "t_win")
    # the drain's checkpoint subdir and the sink's temp view are gone;
    # the returned DataFrame still reads the sink rows
    ckpt_root = spark.conf.get("spark.sql.streaming.checkpointLocation")
    assert not [d for d in os.listdir(ckpt_root) if d.startswith("t_win_")]
    assert not [t for t in spark.catalog.listTables()
                if t.name.startswith("t_win_")]
    got = {(r.w_start, r.event_type): (r.n_events, r.sum_value)
           for r in sink.collect()}
    batch = (engine.table("events")
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
             .select(F.col("window.start").alias("w_start"), "event_type", "n", "s"))
    want = {(r.w_start, r.event_type): (r.n, r.s) for r in batch.collect()}
    assert got == want


def test_stream_dedup_matches_batch_distinct(spark, engine, sf_dir):
    from nosql_join_stream_spark.streaming.log_stream import dedup_stream
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    sink = run_available_now(dedup_stream(stream, ["user_id", "event_type"]),
                             "t_dedup", output_mode="append")
    got = {(r.user_id, r.event_type) for r in sink.collect()}
    want = {(r.user_id, r.event_type)
            for r in engine.table("events")
                           .select("user_id", "event_type").distinct().collect()}
    assert got == want
    # append-mode emits each key exactly once
    assert sink.count() == len(want)


def test_stateful_sessionize_matches_batch(spark, engine, sf_dir):
    from nosql_join_stream_spark.streaming.log_stream import stateful_session_stats
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    sink = run_available_now(stateful_session_stats(stream), "t_sess",
                             output_mode="update")
    final = F.max(F.struct("n_events", "n_sessions", "sum_value")).alias("s")
    got = {r.user_id: (r["s"].n_sessions, r["s"].n_events, r["s"].sum_value)
           for r in sink.groupBy("user_id").agg(final).collect()}
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w))
    new_sess = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    batch = (engine.table("events")
             .withColumn("ns", new_sess).groupBy("user_id")
             .agg(F.sum("ns").alias("n_sessions"), F.count("*").alias("n_events"),
                  F.round(F.sum("value"), 2).alias("sum_value")))
    want = {r.user_id: (r.n_sessions, r.n_events, r.sum_value)
            for r in batch.collect()}
    assert set(got) == set(want)
    for uid, (ns, ne, sv) in want.items():
        gns, gne, gsv = got[uid]
        assert (gns, gne) == (ns, ne), uid
        assert abs(gsv - sv) < 0.02, uid


def test_stream_static_enrich_matches_batch_join(spark, engine, sf_dir):
    from nosql_join_stream_spark.streaming.log_stream import enrich_stream
    stream = read_log_stream(spark, table_path(sf_dir, "events"))
    cust = engine.table("customer")
    joined = enrich_stream(
        stream, cust, on=stream["user_id"] == cust["c_custkey"],
        select_cols=["event_id", "c_name"])
    sink = run_available_now(joined, "t_enrich", output_mode="append")
    got = {(r.event_id, r.c_name) for r in sink.collect()}
    want = {(r.event_id, r.c_name)
            for r in engine.table("events")
                           .join(cust, F.col("user_id") == F.col("c_custkey"))
                           .select("event_id", "c_name").collect()}
    assert got == want


def test_stream_interval_join_matches_batch(spark, engine, sf_dir):
    from nosql_join_stream_spark.streaming.log_stream import interval_join_streams
    p = (read_log_stream(spark, table_path(sf_dir, "events"))
         .filter("event_type = 'purchase'"))
    c = (read_log_stream(spark, table_path(sf_dir, "events"))
         .filter("event_type = 'click'"))
    out = (interval_join_streams(p, c, key="user_id", within="1 hour")
           .select(F.col("l.event_id").alias("pid"),
                   F.col("r.event_id").alias("cid")))
    sink = run_available_now(out, "t_ij", output_mode="append")
    got = {(r.pid, r.cid) for r in sink.collect()}
    ev = engine.table("events")
    pb = ev.filter("event_type = 'purchase'").alias("p")
    cb = ev.filter("event_type = 'click'").alias("c")
    batch = pb.join(cb, (F.col("p.user_id") == F.col("c.user_id"))
                    & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
                    & (F.col("c.ts") <= F.col("p.ts")))
    want = {(r.pid, r.cid)
            for r in batch.select(F.col("p.event_id").alias("pid"),
                                  F.col("c.event_id").alias("cid")).collect()}
    assert got == want and len(got) > 0


def test_stream_dim_stats_matches_batch(spark, engine, sf_dir):
    from nosql_join_stream_spark.operators import similarity
    from nosql_join_stream_spark.queries import REGISTRY
    got = {r.dim: r for r in
           REGISTRY["stream_dim_stats"].fn(spark, sf_dir).collect()}
    want = {r.dim: r for r in
            similarity.embedding_dim_stats(
                engine.table("embeddings"), "embedding").collect()}
    assert set(got) == set(want)
    for d, w in want.items():
        g = got[d]
        assert (g.mean, g.std, g.vmin, g.vmax) == \
               (w.mean, w.std, w.vmin, w.vmax), d


def test_checkpoint_resume_exactly_once(spark, engine, tmp_path):
    # the reference's resumable offset scan (Log[M].from(offset), T1)
    # done Spark-native: a checkpointed file-source stream restarted
    # over a grown source directory processes ONLY the new files, and
    # the file sink stays exactly-once.
    from nosql_join_stream_spark.streaming.log_stream import EVENTS_SCHEMA
    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    ev = engine.table("events")
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    raw.filter("user_id < 8").coalesce(1).write.mode("overwrite") \
       .parquet(str(src))  # sf0.001 user_id range is 0-14: both halves real

    def drain():
        from nosql_join_stream_spark.streaming.log_stream import (
            write_stream_files)
        stream = (spark.readStream.schema(raw.schema)
                  .format("parquet").load(str(src)))
        write_stream_files(stream, str(out), str(ckpt))

    drain()
    n_first = spark.read.parquet(str(out)).count()
    assert 0 < n_first == raw.filter("user_id < 8").count() < raw.count()

    # grow the source; same checkpoint → only new files processed
    raw.filter("user_id >= 8").coalesce(1).write.mode("append") \
       .parquet(str(src))
    drain()
    got = spark.read.parquet(str(out))
    assert got.count() == raw.count()                      # no loss
    assert got.select("event_id").distinct().count() == raw.count()  # no dups


def test_idempotent_sink_replay_no_duplicates(spark, tmp_path):
    """The foreachBatch idempotent sink closes the crash window between
    'files written' and 'commit recorded': we simulate exactly that
    crash by deleting the checkpoint's commit record after a successful
    drain, forcing Spark to REPLAY batch 0 on restart.  A plain append
    sink would duplicate every batch-0 row; the dynamic-partition
    overwrite of __batch_id=0/ must leave the output row-identical.
    Then the source grows and a further drain must add only the new
    rows (batch 1 → its own partition, batch 0 untouched)."""
    import os

    from nosql_join_stream_spark.streaming.log_stream import (
        write_stream_idempotent)

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    first = raw.filter("user_id < 8")  # sf0.001 user_id range is 0-14
    first.coalesce(1).write.mode("overwrite").parquet(str(src))

    def drain():
        stream = (spark.readStream.schema(raw.schema)
                  .format("parquet").load(str(src)))
        write_stream_idempotent(stream, str(out), str(ckpt))

    drain()
    got1 = spark.read.parquet(str(out))
    assert got1.count() == first.count()
    assert set(os.listdir(str(out))) >= {"__batch_id=0"}

    # crash simulation: offsets/0 recorded, commits/0 lost → restart
    # replays batch 0 over the already-written files.  (The .crc
    # checksum sidecar must go too: a stale one fails the replay's
    # atomic re-create, which Spark misreports as a concurrent query.)
    os.remove(str(ckpt / "commits" / "0"))
    os.remove(str(ckpt / "commits" / ".0.crc"))
    drain()
    got2 = spark.read.parquet(str(out))
    assert got2.count() == first.count()                       # no dups
    assert got2.select("event_id").distinct().count() == first.count()

    # source grows; batch 1 lands in its own partition, batch 0 intact
    raw.filter("user_id >= 8").coalesce(1).write.mode("append") \
       .parquet(str(src))
    drain()
    got3 = spark.read.parquet(str(out))
    assert got3.count() == raw.count()
    assert got3.select("event_id").distinct().count() == raw.count()
    assert set(os.listdir(str(out))) >= {"__batch_id=0", "__batch_id=1"}


def test_stream_ann_probe_equals_batch_probe(spark, sf_dir, tmp_path):
    """The streamed query-service probe must answer exactly like the
    batch probe over the same standing index (one AvailableNow drain =
    one micro-batch), and a second drain over the same checkpoint must
    not re-answer (source offsets consumed)."""
    from nosql_join_stream_spark.catalog import table_path
    from nosql_join_stream_spark.operators import similarity
    from nosql_join_stream_spark.streaming.log_stream import (
        EMBEDDINGS_SCHEMA, read_table_stream, stream_ann_probe)

    emb = spark.read.parquet(table_path(sf_dir, "embeddings"))
    q = emb.filter("vec_id < 10").select(F.col("vec_id").alias("q_id"),
                                         "embedding")
    c = emb.select(F.col("vec_id").alias("c_id"), "embedding")
    loc = str(tmp_path / "idx")
    similarity.ann_ivf_partitioned(q, c, k=5, n_cells=16, nprobe=4,
                                   location=loc, rebuild=True).collect()
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        qs = (read_table_stream(spark, table_path(sf_dir, "embeddings"),
                                EMBEDDINGS_SCHEMA)
              .filter("vec_id < 10")
              .select(F.col("vec_id").alias("q_id"), "embedding"))
        stream_ann_probe(qs, loc, out, ckpt, k=5, nprobe=4)

    drain()
    got = {(r.q_id, r.c_id, r.sim, r.rank)
           for r in spark.read.parquet(out).collect()}
    want = {(r.q_id, r.c_id, r.sim, r.rank)
            for r in similarity.ann_ivf_probe(q, loc, k=5,
                                              nprobe=4).collect()}
    assert got == want and len(got) == 50

    drain()  # no new source files -> no new answers, none duplicated
    assert {(r.q_id, r.c_id, r.sim, r.rank)
            for r in spark.read.parquet(out).collect()} == want

    # probing a location with no index fails loudly
    with pytest.raises(ValueError, match="no standing IVF index"):
        similarity.ann_ivf_probe(q, str(tmp_path / "nope"))


def test_stream_quality_ewma_state_survives_restart(spark, tmp_path):
    """The per-source EWMA state must CONTINUE across a checkpointed
    restart over a grown source: after draining file A then file B,
    n_seen covers both and the ewma equals a Python replay of the
    two-stage fold (batch A in hash order, then batch B in hash order,
    seeded by A's final state)."""
    from nosql_join_stream_spark.operators import text as textops
    from nosql_join_stream_spark.operators.sampling import order_hash
    from nosql_join_stream_spark.streaming.log_stream import (
        stateful_quality_ewma, write_stream_idempotent)

    raw = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    out = tmp_path / "out"
    half_a = raw.filter("doc_id % 2 = 0")
    half_b = raw.filter("doc_id % 2 = 1")
    half_a.coalesce(1).write.mode("overwrite").parquet(str(src))

    scored = raw.select(
        "doc_id", "source",
        textops.quality_score(F.col("text")).alias("q"),
        order_hash(F.col("doc_id")).alias("hh")).collect()
    by_src: dict = {}
    for half in (0, 1):
        rows = sorted((r for r in scored if r.doc_id % 2 == half),
                      key=lambda r: (r.hh, r.doc_id))
        for r in rows:
            e, n = by_src.get(r.source, (None, 0))
            e = r.q if e is None else 0.2 * r.q + 0.8 * e
            by_src[r.source] = (e, n + 1)

    def drain():
        stream = (spark.readStream.schema(raw.schema)
                  .format("parquet").load(str(src))
                  .select("doc_id", "source",
                          textops.quality_score(F.col("text")).alias("q"),
                          order_hash(F.col("doc_id")).alias("hh")))
        ewma = stateful_quality_ewma(stream, "source", "doc_id", "q", "hh")
        # memory sinks can't recover a checkpoint; the idempotent
        # foreachBatch sink can — and its per-batch partitions make
        # the cumulative update emissions easy to fold
        write_stream_idempotent(ewma, str(out), str(ckpt),
                                output_mode="update")

    drain()
    half_b.coalesce(1).write.mode("append").parquet(str(src))
    drain()
    final = F.max(F.struct("n_seen", "ewma")).alias("s")
    got = {r.source: (r["s"].n_seen, r["s"].ewma) for r in
           spark.read.parquet(str(out))
                .groupBy("source").agg(final).collect()}
    for srcname, (e, n) in by_src.items():
        gn, ge = got[srcname]
        assert gn == n, srcname
        assert abs(ge - round(e, 6)) < 1e-9, srcname


def test_stream_minhash_dedup_equals_batch(spark, sf_dir):
    """A single-batch drain of the streaming banded-dedup probe must
    emit exactly the batch cross-set pairs (same standing index
    semantics, same verify)."""
    from nosql_join_stream_spark.queries import REGISTRY

    got = {(r.left_id, r.right_id, r.jaccard) for r in
           REGISTRY["stream_minhash_dedup_ingest"].fn(spark, sf_dir)
           .collect()}
    want = {(r.left_id, r.right_id, r.jaccard) for r in
            REGISTRY["dedup_incremental_minhash"].fn(spark, sf_dir)
            .collect()}
    assert got == want and got


def test_stream_token_budget_equals_batch_draw(spark, sf_dir):
    from nosql_join_stream_spark.queries import REGISTRY
    got = {(r.doc_id, r.source, r.n_tokens) for r in
           REGISTRY["stream_token_budget"].fn(spark, sf_dir).collect()}
    want = {(r.doc_id, r.source, r.n_tokens) for r in
            REGISTRY["sample_token_budget"].fn(spark, sf_dir).collect()}
    # single-batch drain ≡ the batch budget draw, bit for bit
    assert got == want and got


def test_stream_token_budget_state_survives_restart(spark, tmp_path):
    # T1/T6 composed: the admission counter is STATE in the checkpoint —
    # a restarted drain over a grown source keeps spending the same
    # budget, never re-admits, and never exceeds it.
    from nosql_join_stream_spark.operators.sampling import order_hash
    from nosql_join_stream_spark.streaming.log_stream import (
        stateful_budget_admission, write_stream_files)

    src = tmp_path / "src"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    budget = 120
    rows1 = [(i, "s", " ".join(["w"] * 30)) for i in range(3)]       # 90 tok
    rows2 = [(i, "s", " ".join(["w"] * 30)) for i in range(3, 8)]    # 150 tok
    schema = "doc_id long, source string, text string"
    spark.createDataFrame(rows1, schema).coalesce(1) \
         .write.mode("overwrite").parquet(str(src))

    def drain():
        stream = (spark.readStream
                  .schema("doc_id long, source string, text string")
                  .format("parquet").load(str(src)))
        enriched = stream.select(
            "doc_id", "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
             .cast("long").alias("n_tokens"),
            order_hash(F.col("doc_id")).alias("hh"))
        admitted = stateful_budget_admission(
            enriched, "source", "doc_id", "n_tokens", "hh", budget=budget)
        write_stream_files(admitted, str(out), str(ckpt))

    drain()
    first = spark.read.parquet(str(out))
    n1, tok1 = first.count(), first.agg(F.sum("n_tokens")).collect()[0][0]
    assert n1 == 3 and tok1 == 90            # all of batch 1 fits

    spark.createDataFrame(rows2, schema).coalesce(1) \
         .write.mode("append").parquet(str(src))
    drain()
    both = spark.read.parquet(str(out))
    # state remembered 90 spent → exactly ONE more doc admits (90 < 120),
    # and its 30 tokens close the budget for good
    assert both.count() == 4
    assert both.select("doc_id").distinct().count() == 4   # exactly-once
    assert both.agg(F.sum("n_tokens")).collect()[0][0] == 120


def test_stream_source_validation_fails_fast(spark):
    """read_stream_source applies the reference's builder validation
    (Left(err) before any I/O) to streaming sources: every bad config
    raises BEFORE .load() touches a broker or filesystem."""
    import pytest
    from nosql_join_stream_spark.engine import QueryValidationError
    from nosql_join_stream_spark.streaming.log_stream import (
        read_stream_source)

    with pytest.raises(QueryValidationError, match="requires a path"):
        read_stream_source(spark, fmt="parquet")
    with pytest.raises(QueryValidationError, match="explicit schema"):
        read_stream_source(spark, fmt="parquet", path="/tmp/x")
    with pytest.raises(QueryValidationError, match="takes no path"):
        read_stream_source(spark, fmt="kafka", path="/tmp/x",
                           **{"kafka.bootstrap.servers": "h:9092",
                              "subscribe": "t"})
    with pytest.raises(QueryValidationError, match="bootstrap"):
        read_stream_source(spark, fmt="kafka", subscribe="t")
    with pytest.raises(QueryValidationError, match="exactly one"):
        read_stream_source(spark, fmt="kafka",
                           **{"kafka.bootstrap.servers": "h:9092"})
    with pytest.raises(QueryValidationError, match="exactly one"):
        read_stream_source(spark, fmt="kafka",
                           **{"kafka.bootstrap.servers": "h:9092",
                              "subscribe": "t", "assign": "u"})
    with pytest.raises(QueryValidationError, match="fixed wire schema"):
        read_stream_source(spark, fmt="kafka", schema="a long",
                           **{"kafka.bootstrap.servers": "h:9092",
                              "subscribe": "t"})


def test_stream_source_pathless_passthrough(spark):
    """Formats outside the file set and the connector registry pass
    straight through with options forwarded — the built-in pathless
    `rate` source must load (and actually run) without the path/schema
    requirements that only file sources carry."""
    from nosql_join_stream_spark.streaming.log_stream import (
        read_stream_source, run_available_now)

    stream = read_stream_source(spark, fmt="rate", rowsPerSecond="16",
                                numPartitions="2")
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == ["timestamp", "value"]
    sink = run_available_now(stream.selectExpr("value"), "rate_passthrough",
                             output_mode="append")
    vals = [r.value for r in sink.collect()]
    assert vals == sorted(vals)  # drained at least zero rows, ordered ids


def test_stream_source_file_format_roundtrip(spark, tmp_path):
    """The file-format path of read_stream_source drains a real stream."""
    from nosql_join_stream_spark.streaming.log_stream import (
        read_stream_source, run_available_now)

    src = tmp_path / "src"
    spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string") \
         .coalesce(1).write.parquet(str(src))
    stream = read_stream_source(spark, fmt="parquet", path=str(src),
                                schema="id long, v string")
    assert stream.isStreaming
    rows = run_available_now(stream, "stream_source_rt",
                             output_mode="append").collect()
    assert sorted((r.id, r.v) for r in rows) == [(1, "a"), (2, "b")]


def test_decode_kafka_json_on_wire_shaped_batch(spark):
    """Payload decode is pure Column logic — verified on a batch frame
    with the kafka wire shape (value binary + broker timestamp), no
    broker needed."""
    import datetime

    from nosql_join_stream_spark.streaming.log_stream import (
        decode_kafka_json)

    wire = spark.createDataFrame(
        [(bytearray(b'{"user_id": 7, "event_type": "view"}'),
          datetime.datetime(2024, 1, 1, 0, 0, 0)),
         (bytearray(b'{"user_id": 9, "event_type": "click"}'),
          datetime.datetime(2024, 1, 1, 0, 0, 1))],
        "value binary, timestamp timestamp")
    out = decode_kafka_json(wire, "user_id long, event_type string")
    assert out.columns == ["ts", "user_id", "event_type"]
    got = sorted((r.user_id, r.event_type) for r in out.collect())
    assert got == [(7, "view"), (9, "click")]


def test_kafka_source_resolution_or_skip(spark):
    """Jar-detected smoke (same pattern as test_connector_smoke): with
    no kafka-sql jar the DataSource cannot resolve and the test SKIPS;
    with one, validated options must reach the connector."""
    import pytest
    from nosql_join_stream_spark.streaming.log_stream import (
        read_stream_source)

    try:
        read_stream_source(
            spark, fmt="kafka",
            **{"kafka.bootstrap.servers": "127.0.0.1:1",
               "subscribe": "smoke"})
    except Exception as ex:  # noqa: BLE001 — classify, don't mask
        msg = str(ex).lower()
        if ("failed to find data source" in msg
                or "classnotfound" in msg):
            pytest.skip("kafka-sql jar not on the classpath "
                        "(hermetic container)")
        raise


def test_stream_cdc_upsert_replay_converges(spark, tmp_path):
    """Streaming MERGE exactly-once WITHOUT __batch_id partitions: the
    keep-latest upsert is naturally idempotent, so a crash between
    manifest-published and commit-recorded (simulated by deleting the
    commit record) replays the batch into the SAME table rows.  Then
    the source grows and the next drain must fold in only the newer
    rows — per key the greatest (ts, event_id) wins across batches."""
    import os

    from nosql_join_stream_spark.sinks import (latest_per_key,
                                               read_keyed_snapshot)
    from nosql_join_stream_spark.streaming.log_stream import (
        stream_cdc_upsert_snapshot)

    src = tmp_path / "src"
    tbl = tmp_path / "tbl"
    ckpt = tmp_path / "ckpt"
    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
               .select("user_id", "ts", "event_id", "event_type", "value")
    first = raw.filter("event_id % 2 = 0")
    first.coalesce(1).write.mode("overwrite").parquet(str(src))

    def drain():
        stream = (spark.readStream.schema(raw.schema)
                  .format("parquet").load(str(src)))
        stream_cdc_upsert_snapshot(stream, str(tbl), str(ckpt), "user_id",
                                   ["ts", "event_id"], num_buckets=8)

    def snapshot():
        return {tuple(r) for r in
                read_keyed_snapshot(spark, str(tbl)).collect()}

    drain()
    want_first = {tuple(r) for r in
                  latest_per_key(first, "user_id", ["ts", "event_id"])
                  .collect()}
    assert snapshot() == want_first

    # crash simulation: replay batch 0 → table must be unchanged
    os.remove(str(ckpt / "commits" / "0"))
    os.remove(str(ckpt / "commits" / ".0.crc"))
    drain()
    assert snapshot() == want_first

    # source grows: the merge must now equal keep-latest over ALL rows
    raw.filter("event_id % 2 = 1").coalesce(1).write.mode("append") \
       .parquet(str(src))
    drain()
    want_all = {tuple(r) for r in
                latest_per_key(raw, "user_id", ["ts", "event_id"])
                .collect()}
    assert snapshot() == want_all


def test_stream_cdc_upsert_with_deletes(spark, tmp_path):
    """The change stream carries DELETE ops: the served table must
    equal keep-latest over the whole log minus keys whose latest op
    is a delete — including a delete arriving in a LATER micro-batch
    than the upsert it retracts, and a bootstrap batch that already
    contains deletes."""
    from pyspark.sql import functions as F

    from nosql_join_stream_spark.sinks import read_keyed_snapshot
    from nosql_join_stream_spark.streaming.log_stream import (
        stream_cdc_upsert_snapshot)

    src = tmp_path / "src"
    tbl = tmp_path / "tbl"
    ckpt = tmp_path / "ckpt"
    schema = "k long, seq long, p string, is_del boolean"
    # batch 0 bootstraps WITH a delete in it (k=3 born-deleted)
    spark.createDataFrame(
        [(1, 1, "a1", False), (2, 1, "b1", False), (3, 1, None, True)],
        schema).coalesce(1).write.mode("overwrite").parquet(str(src))

    def drain():
        stream = (spark.readStream.schema(schema)
                  .format("parquet").load(str(src)))
        stream_cdc_upsert_snapshot(stream, str(tbl), str(ckpt), "k",
                                   ["seq"], num_buckets=4,
                                   delete_col="is_del")

    drain()
    got = {r.k: r.p for r in
           read_keyed_snapshot(spark, str(tbl)).collect()}
    assert got == {1: "a1", 2: "b1"}

    # batch 1: delete k=1 (later than its upsert), re-create k=3,
    # stale delete for k=2 (seq 0 loses to standing seq 1)
    spark.createDataFrame(
        [(1, 2, None, True), (3, 2, "c2", False), (2, 0, None, True)],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    got = {r.k: r.p for r in
           read_keyed_snapshot(spark, str(tbl)).collect()}
    assert got == {2: "b1", 3: "c2"}


def test_stream_cdc_upsert_snapshot_versions_and_replay(spark, tmp_path):
    """Streaming CDC into the snapshot-isolated table: each drain
    publishes committed manifest versions, replay after a simulated
    crash converges to a CONTENT-identical table (new version, same
    rows), and time travel still reads the pre-merge state."""
    import os

    from nosql_join_stream_spark.sinks import read_keyed_snapshot
    from nosql_join_stream_spark.streaming.log_stream import (
        stream_cdc_upsert_snapshot)

    src = tmp_path / "src"
    tbl = tmp_path / "tbl"
    ckpt = tmp_path / "ckpt"
    schema = "k long, seq long, p string, is_del boolean"
    spark.createDataFrame(
        [(1, 1, "a1", False), (2, 1, "b1", False)],
        schema).coalesce(1).write.mode("overwrite").parquet(str(src))

    def drain():
        stream = (spark.readStream.schema(schema)
                  .format("parquet").load(str(src)))
        stream_cdc_upsert_snapshot(stream, str(tbl), str(ckpt), "k",
                                   ["seq"], num_buckets=4,
                                   delete_col="is_del")

    def snapshot(version=None):
        return {(r.k, r.seq, r.p) for r in
                read_keyed_snapshot(spark, str(tbl), version).collect()}

    drain()
    assert snapshot() == {(1, 1, "a1"), (2, 1, "b1")}

    spark.createDataFrame(
        [(1, 2, None, True), (3, 1, "c1", False)],
        schema).coalesce(1).write.mode("append").parquet(str(src))
    drain()
    want = {(2, 1, "b1"), (3, 1, "c1")}
    assert snapshot() == want
    # the bootstrap version still time-travels (pre-merge audit)
    assert snapshot(version=1) == {(1, 1, "a1"), (2, 1, "b1")}

    # crash simulation: replay batch 1 -> content identical, version
    # advances (keep-latest + delete-if-latest are idempotent)
    os.remove(str(ckpt / "commits" / "1"))
    os.remove(str(ckpt / "commits" / ".1.crc"))
    drain()
    assert snapshot() == want


def test_watermark_drops_late_rows(spark, tmp_path):
    """Bounded-state contract made observable: with a 30-min watermark
    a row arriving 2 hours late (in a later micro-batch, after the
    watermark advanced past its window) must be DROPPED from the
    append-mode windowed aggregate and counted by the state operator.
    This is what keeps a 100 TB stream's state finite — late data is
    cut, not accumulated.  Checkpointed sequential drains pin the
    batch order (file-source listing order is not deterministic)."""
    from datetime import timedelta

    from pyspark.sql import Row

    from nosql_join_stream_spark.streaming.log_stream import windowed_counts

    src = tmp_path / "src"
    ckpt = tmp_path / "ckpt"
    base = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    schema = base.schema
    # floor to the hour + 5 min: every constructed on-time row sits
    # mid-window regardless of where the dataset's max ts happens to
    # fall (minute >= 50 would otherwise straddle two windows)
    t0 = base.agg(F.max("ts")).first()[0].replace(
        minute=5, second=0, microsecond=0)

    def ev(eid, ts):
        return {"event_id": eid, "ts": ts, "user_id": 1,
                "event_type": "click", "value": 1.0, "props": "{}"}

    def mk(rows, mode):
        spark.createDataFrame([Row(**r) for r in rows], schema) \
             .coalesce(1).write.mode(mode).parquet(str(src))

    out = tmp_path / "out"

    def drain():
        stream = (spark.readStream.schema(schema).format("parquet")
                  .load(str(src))
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        agg = windowed_counts(stream, window="1 hour",
                              watermark="30 minutes")
        q = (agg.writeStream.outputMode("append")
             .format("parquet").option("path", str(out))
             .option("checkpointLocation", str(ckpt))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return sum(p["stateOperators"][0]["numRowsDroppedByWatermark"]
                   for p in q.recentProgress if p["stateOperators"])

    # drain 1: on-time rows advance the watermark to t0+5min-30min
    mk([ev(1, t0), ev(2, t0 + timedelta(minutes=5))], "overwrite")
    assert drain() == 0

    # drain 2: one row 2h late (window long closed) + one current row
    mk([ev(3, t0 - timedelta(hours=2)),
        ev(4, t0 + timedelta(minutes=10))], "append")
    assert drain() == 1                   # the late row, dropped

    # drain 3: a far-future row pushes the watermark past t0's window
    # so append mode finalizes it — WITHOUT the dropped late row
    mk([ev(5, t0 + timedelta(hours=3))], "append")
    drain()
    wins = {r.w_start: r.n_events
            for r in spark.read.parquet(str(out)).collect()}
    t0_win = t0.replace(minute=0, second=0, microsecond=0)
    late_win = (t0 - timedelta(hours=2)).replace(minute=0, second=0,
                                                 microsecond=0)
    assert wins[t0_win] == 3              # ids 1, 2, 4
    assert late_win not in wins           # id 3 never surfaces


def test_stream_interval_join_outer_contract(spark, engine, sf_dir):
    """LEFT OUTER stream-stream interval join: the drained result must
    (a) contain every inner pair, (b) never fabricate an unmatched row
    (NULL right for a purchase that HAS a preceding click), and
    (c) emit the clearly-old unmatched purchases (watermark long past).
    The exact boundary rows near stream end are watermark-delayed by
    construction (outer results wait out the interval), so the tail is
    NOT asserted — that is the documented semantic, not a bug."""
    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_streams, read_log_stream, run_available_now)
    import datetime

    p = (read_log_stream(spark, table_path(sf_dir, "events"))
         .filter("event_type = 'purchase'"))
    c = (read_log_stream(spark, table_path(sf_dir, "events"))
         .filter("event_type = 'click'"))
    j = interval_join_streams(p, c, key="user_id", within="1 hour",
                              how="leftOuter")
    sink = run_available_now(
        j.select(F.col("l.event_id").alias("pid"),
                 F.col("r.event_id").alias("cid"),
                 F.col("l.ts").alias("pts")),
        "t_oj_contract", output_mode="append")
    got = {(r.pid, r.cid) for r in sink.collect()}

    ev = engine.table("events")
    pb = ev.filter("event_type = 'purchase'").alias("p")
    cb = ev.filter("event_type = 'click'").alias("c")
    cond = ((F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c.ts") <= F.col("p.ts")))
    inner = {(r.pid, r.cid) for r in
             pb.join(cb, cond).select(F.col("p.event_id").alias("pid"),
                                      F.col("c.event_id").alias("cid"))
             .collect()}
    matched_pids = {pid for pid, _ in inner}
    assert inner <= got                                       # (a)
    for pid, cid in got:
        if cid is None:
            assert pid not in matched_pids                    # (b)
    maxts = ev.agg(F.max("ts")).first()[0]
    old_cut = maxts - datetime.timedelta(hours=6)
    old_unmatched = {r.pid for r in
                     pb.join(cb, cond, "left_anti")
                     .filter(F.col("p.ts") < F.lit(old_cut))
                     .select(F.col("p.event_id").alias("pid")).collect()}
    got_unmatched = {pid for pid, cid in got if cid is None}
    assert old_unmatched <= got_unmatched                     # (c)
    assert len(got_unmatched) > 0


def test_interval_join_outer_flush_drain_equals_batch(spark, engine,
                                                      sf_dir, tmp_path):
    """The watermark-flush drain closes the tail caveat the contract
    test above documents: with a far-future sentinel per side, the
    drained parquet sink equals the batch LEFT JOIN row for row —
    including every watermark-delayed NULL tail row — and a re-drain
    of the same run_dir is an idempotent no-op."""
    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_outer_flush_drain)

    run_dir = str(tmp_path / "ijo")
    got_df = interval_join_outer_flush_drain(
        spark, table_path(sf_dir, "events"), run_dir, how="leftOuter")
    got = sorted((r.left_id, r.right_id) for r in got_df.collect())

    ev = engine.table("events")
    pb = ev.filter("event_type = 'purchase'").alias("p")
    cb = ev.filter("event_type = 'click'").alias("c")
    cond = ((F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c.ts") <= F.col("p.ts")))
    exp = sorted((r.pid, r.cid) for r in
                 pb.join(cb, cond, "left")
                 .select(F.col("p.event_id").alias("pid"),
                         F.col("c.event_id").alias("cid")).collect())
    assert got == exp
    assert any(cid is None for _, cid in got)  # the tail actually flushed
    # idempotent re-drain: checkpoint sees zero new files
    again = interval_join_outer_flush_drain(
        spark, table_path(sf_dir, "events"), run_dir, how="leftOuter")
    assert sorted((r.left_id, r.right_id) for r in again.collect()) == exp


def test_interval_join_flush_drain_full_outer_equals_batch(spark, engine,
                                                           sf_dir, tmp_path):
    """FULL OUTER form (r9): the drained sink equals the batch FULL
    JOIN row for row — BOTH NULL tails present (click-less purchases
    with NULL right, purchase-less clicks with NULL left)."""
    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_outer_flush_drain)

    run_dir = str(tmp_path / "ijf")
    got_df = interval_join_outer_flush_drain(
        spark, table_path(sf_dir, "events"), run_dir, how="fullOuter")
    got = sorted(((r.left_id, r.right_id) for r in got_df.collect()),
                 key=lambda t: (t[0] is None, t[0] or 0,
                                t[1] is None, t[1] or 0))

    ev = engine.table("events")
    pb = ev.filter("event_type = 'purchase'").alias("p")
    cb = ev.filter("event_type = 'click'").alias("c")
    cond = ((F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c.ts") <= F.col("p.ts")))
    exp = sorted(((r.pid, r.cid) for r in
                  pb.join(cb, cond, "full")
                  .select(F.col("p.event_id").alias("pid"),
                          F.col("c.event_id").alias("cid")).collect()),
                 key=lambda t: (t[0] is None, t[0] or 0,
                                t[1] is None, t[1] or 0))
    assert got == exp
    assert any(cid is None for _, cid in got)   # left NULL tail flushed
    assert any(pid is None for pid, _ in got)   # right NULL tail flushed


def test_interval_join_outer_postjoin_filter_suppresses_nulls(
        spark, tmp_path):
    """Pins the MEASURED Spark 4.1 hazard the flush drain designs
    around: a post-join filter on a stream-stream LEFT OUTER join —
    even one referencing only left-side columns that are never NULL —
    suppresses the watermark-flush NULL emissions entirely.  If this
    test ever fails with rows EMITTED, Spark fixed the behavior and
    the drain's batch-side filtering can move back in-plan."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from nosql_join_stream_spark.streaming.log_stream import (
        interval_join_streams, read_log_stream)

    inp = str(tmp_path / "in")
    import os
    os.makedirs(inp)
    sch = pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())])
    base = datetime.datetime(2024, 1, 1)
    pq.write_table(pa.table({
        "event_id": [1, 2], "ts": [base, base],
        "user_id": [1, 2], "event_type": ["purchase"] * 2,
        "value": [1.0] * 2, "props": [None] * 2}, schema=sch),
        os.path.join(inp, "0000.parquet"))
    pq.write_table(pa.table({
        "event_id": [-1, -2],
        "ts": [base + datetime.timedelta(days=999)] * 2,
        "user_id": [-1, -2], "event_type": ["purchase", "click"],
        "value": [0.0] * 2, "props": [None] * 2}, schema=sch),
        os.path.join(inp, "zz.parquet"))

    def drain(postfilter: bool, name: str):
        p = read_log_stream(spark, inp).filter("event_type = 'purchase'")
        c = read_log_stream(spark, inp).filter("event_type = 'click'")
        j = interval_join_streams(p, c, key="user_id", within="1 hour",
                                  how="leftOuter")
        sel = j.select(F.col("l.event_id").alias("pid"),
                       F.col("r.event_id").alias("cid"),
                       F.col("l.user_id").alias("user_id"))
        if postfilter:
            sel = sel.filter(F.col("user_id") >= 0)
        out = str(tmp_path / f"{name}_out")
        q = (sel.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", str(tmp_path / f"{name}_ck"))
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return {(r.pid, r.cid)
                for r in spark.read.parquet(out).collect()
                if r.user_id >= 0}

    assert drain(False, "clean") == {(1, None), (2, None)}
    assert drain(True, "filtered") == set()  # the hazard, pinned


def test_python_datasource_streams_with_filename_watermark(spark, tmp_path):
    """The pure-Python source's unbounded twin: filename-high-watermark
    offsets — first drain reads the existing file, a file appended
    later arrives in the next drain exactly once (checkpointed
    resume), nothing re-reads."""
    import json

    from nosql_join_stream_spark.pydocsource import register_json_docs

    d = tmp_path / "docs"
    d.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (d / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": "first"}) + "\n")
    register_json_docs(spark)

    def drain():
        q = (spark.readStream.format("json_docs")
             .option("path", str(d)).load()
             .writeStream.format("parquet")
             .option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1}

    (d / "b.jsonl").write_text(
        json.dumps({"doc_id": 2, "text": "second"}) + "\n"
        + json.dumps({"doc_id": 3, "text": "third"}) + "\n")
    drain()
    # resumed from the committed watermark: docs arrive exactly once
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {1, 2, 3} and len(rows) == 3


def test_python_datasource_partitioned_stream_reader(spark, tmp_path):
    """The executor-side streaming form: one partition per new file
    between offsets — a two-file batch arrives as a 2-partition scan,
    the driver never materializes rows, and checkpointed resume still
    reads each file exactly once."""
    import json

    from nosql_join_stream_spark.pydocsource import register_json_docs

    d = tmp_path / "docs"
    d.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    (d / "a.jsonl").write_text(
        json.dumps({"doc_id": 1, "text": "first"}) + "\n")
    (d / "b.jsonl").write_text(
        json.dumps({"doc_id": 2, "text": "second"}) + "\n")
    register_json_docs(spark)

    def drain():
        q = (spark.readStream.format("json_docs")
             .option("path", str(d)).load()
             .writeStream.format("parquet").option("path", out)
             .outputMode("append")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    drain()
    assert {r.doc_id for r in spark.read.parquet(out).collect()} == {1, 2}
    (d / "c.jsonl").write_text(
        json.dumps({"doc_id": 3, "text": "third"}) + "\n")
    drain()
    rows = spark.read.parquet(out).collect()
    assert {r.doc_id for r in rows} == {1, 2, 3} and len(rows) == 3


def test_engine_load_stream_json_docs_passthrough(spark, tmp_path):
    """Engine.load_stream reaches the pure-Python connector through
    the same pass-through arm as any registered streaming source —
    the unbounded twin of Engine.load(fmt='json_docs'), no special
    casing needed."""
    import json

    from nosql_join_stream_spark.engine import Engine
    from nosql_join_stream_spark.pydocsource import register_json_docs

    register_json_docs(spark)
    d = tmp_path / "docs"
    d.mkdir()
    (d / "a.jsonl").write_text(
        json.dumps({"doc_id": 7, "text": "via engine"}) + "\n")
    e = Engine(spark, "/root/testdata/sf0.001")
    q = (e.load_stream(str(d), fmt="json_docs")
         .writeStream.format("memory").queryName("eng_pyds")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = spark.sql("SELECT doc_id, text FROM eng_pyds").collect()
    assert [(r.doc_id, r.text) for r in rows] == [(7, "via engine")]


def test_late_data_quarantine_routes_and_replays(spark, sf_dir, tmp_path):
    """The DLQ routes exactly the straggler rows older than the
    on-time max minus the delay; a rerun over the same run_dir drains
    nothing new and returns the identical quarantine."""
    from nosql_join_stream_spark.catalog import table_path
    from nosql_join_stream_spark.streaming.log_stream import (
        late_data_quarantine)

    run_dir = str(tmp_path / "lateq")
    events = table_path(sf_dir, "events")
    q1 = late_data_quarantine(spark, events, run_dir)
    got = sorted(r.event_id for r in q1.collect())
    ev = spark.read.parquet(events)
    from pyspark.sql import functions as F
    wm = ev.filter(F.col("event_id") % 97 != 0) \
        .agg(F.max("ts")).collect()[0][0]
    from datetime import timedelta
    want = sorted(r.event_id for r in ev.filter(
        (F.col("event_id") % 97 == 0)
        & (F.col("ts") < wm - timedelta(seconds=21600))).collect())
    assert got == want and len(got) > 0
    # every quarantined row is from the straggler slice — no on-time
    # row ever routes to the DLQ
    assert all(e % 97 == 0 for e in got)
    # rerun: build-once gate skips staging, result identical
    q2 = late_data_quarantine(spark, events, run_dir)
    assert sorted(r.event_id for r in q2.collect()) == got
    # main output holds everything else (no row lost, no duplicate)
    main = spark.read.parquet(str(tmp_path / "lateq" / "main"))
    assert main.count() == ev.count() - len(got)


def test_stream_scd2_enrich_multibatch_and_replay(spark, tmp_path):
    """Two micro-batches (maxFilesPerTrigger=1 over a two-file fact
    source) through the streaming point-in-time enrichment must equal
    the batch as-of join over the same facts — the cross-batch
    contract (each batch consults the SAME standing history, and no
    fact's answer depends on which batch carried it).  Then a batch-1
    replay (commit record deleted) must converge, not duplicate."""
    import os

    from nosql_join_stream_spark import sinks
    from nosql_join_stream_spark.operators.join import asof_join
    from nosql_join_stream_spark.streaming.log_stream import (
        stream_scd2_enrich)

    raw = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    dim = sinks.scd2_history(
        raw.filter("event_type <> 'purchase'")
           .select("user_id", "ts", "event_id", "event_type"),
        "user_id", ["ts", "event_id"], "event_type")
    dim = dim.filter(F.col("valid_to").isNull()
                     | (F.col("valid_from") < F.col("valid_to")))
    facts = (raw.filter("event_type = 'purchase'")
                .select("event_id", "user_id", "ts", "value"))
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    facts.filter("user_id % 2 = 0").coalesce(1) \
         .write.mode("overwrite").parquet(src)
    facts.filter("user_id % 2 = 1").coalesce(1) \
         .write.mode("append").parquet(src)

    def drain():
        stream = (spark.readStream.schema(facts.schema).format("parquet")
                  .option("maxFilesPerTrigger", "1").load(src))
        stream_scd2_enrich(stream, dim, out, ckpt, on="user_id",
                           left_ts="ts", right_ts="valid_from",
                           payload=["event_type"])

    drain()
    got = spark.read.parquet(out)
    assert set(os.listdir(out)) >= {"__batch_id=0", "__batch_id=1"}

    expect = asof_join(facts, dim, on="user_id", left_ts="ts",
                       right_ts="valid_from", payload=["event_type"],
                       direction="backward")
    key = ["event_id", "asof_event_type", "asof_valid_from"]
    rows1 = sorted(map(tuple, got.select(*key).collect()))
    assert rows1 == sorted(map(tuple, expect.select(*key).collect()))

    # crash inside batch 1's commit window → replay must overwrite its
    # own partition, leaving the output row-identical (materialize
    # rows1 first: the replay rewrites batch-1's part files, so any
    # pre-replay DataFrame's file list is stale)
    os.remove(os.path.join(ckpt, "commits", "1"))
    os.remove(os.path.join(ckpt, "commits", ".1.crc"))
    drain()
    spark.catalog.refreshByPath(out)
    rows2 = sorted(map(tuple,
                       spark.read.parquet(out).select(*key).collect()))
    assert rows2 == rows1
