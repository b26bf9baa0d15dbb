"""Streaming event-log — the unbounded form of ``Log[M].from``.

Reference: the event log is consumed as an unbounded resumable scan
from ``offset`` (log/package.scala:56-62) with demand-driven paging
(CassandraAsyncStage.scala:29-100, page 512) and backpressure
(SURVEY.md §2.7 T1-T2).  Structured Streaming replaces all of it:
``readStream`` + ``startingOffsets``-analog filter, trigger pacing
(``maxFilesPerTrigger``) instead of Rx ``request(n)``, and
``Trigger.AvailableNow`` for run-to-completion tests.

The reference has NO watermark/event-time semantics (§2.7 T6); we
expose them anyway (windowed_counts) because any 100 TB streaming
deployment needs bounded state.
"""

from __future__ import annotations

import itertools
import os
import shutil
import threading
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter

#: serializes set/restore of the session-global shuffle-partitions conf
#: across concurrent drains in one session
_SHUFFLE_CONF_LOCK = threading.Lock()

#: Default state-store parallelism for AvailableNow drains.  Each
#: shuffle partition owns a state store paying load/commit per
#: micro-batch; r16 swept {32, 8, 4, 2} on the stream family at sf0.1:
#: 4 beats 8 on every stateful-JOIN/AGG form (interval_join 2.69 ->
#: 2.22 s, dedup_keys 1.12 -> 0.82, windowed_counts 0.90 -> 0.71) and
#: 2 starts hurting the per-key Python forms badly (sessionize 1.97 ->
#: 3.49 at 2).  Per-key applyInPandasWithState callers pass 8
#: explicitly (their state work parallelizes; see callers).  On a real
#: cluster size this to key cardinality x executors — env-overridable.
_DEFAULT_STORES = int(os.environ.get("NSJS_STREAM_STORES", "4"))

#: process-wide sequence behind every drain's unique query name and
#: run-dir tag
_RUN_SEQ = itertools.count(1)


def next_run_id() -> int:
    """A process-unique number for naming one drain (memory-sink query
    name, checkpointed run dir)."""
    return next(_RUN_SEQ)


@contextmanager
def _state_stores(spark: SparkSession, n: int):
    """Hold the session's shuffle width at ``n`` while a stateful query
    starts: each shuffle partition owns a state store that pays
    load/commit per micro-batch, so a drain wants stores sized to key
    cardinality × executors, not the batch shuffle default (locally:
    32 stores cost ~5x more wall than 8 for the same data).  The value
    is locked into the checkpoint at first start.

    Set/restore runs under a process lock: two concurrent drains in one
    session would otherwise race on the global and could restore the
    wrong value.  Spark offers no per-query scope for this conf — it is
    captured at ``.start()``, so the lock releases before the drain
    finishes."""
    with _SHUFFLE_CONF_LOCK:
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(n))
        try:
            yield
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)


def drain(writer: DataStreamWriter, spark: SparkSession | None = None,
          stores: int | None = None) -> None:
    """Start ``writer`` with ``Trigger.AvailableNow`` and wait until it
    has processed everything currently in its source and stopped —
    the one start/await every drain in the package goes through.
    ``stores`` (with the writer's ``spark`` session) sets the
    state-store count for the start; None keeps the session setting."""
    with _state_stores(spark, stores) if stores else nullcontext():
        q = writer.trigger(availableNow=True).start()
    q.awaitTermination()


def _events_schema(ts_dtype: str) -> T.StructType:
    """Stream-source schema for the events log, with ``ts`` declared as
    whatever this round's parquet physically stores (catalog.py note):
    nanos-as-long (legacy TIMESTAMP(NANOS)), TIMESTAMP_NTZ (naive
    micros), or plain TIMESTAMP (UTC-adjusted micros)."""
    ts_type = {"bigint": T.LongType(),
               "timestamp_ntz": T.TimestampNTZType()}.get(
                   ts_dtype, T.TimestampType())
    return T.StructType([
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", ts_type),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ])


#: default shape (current test data: naive-micros parquet → NTZ)
EVENTS_SCHEMA = _events_schema("timestamp_ntz")


def read_log_stream(spark: SparkSession, path: str, key=None, offset: int = 0,
                    max_files_per_trigger: int | None = None) -> DataFrame:
    """Unbounded scan of the events log (reference S7/S8).

    ``key``/``offset`` mirror ``Log[M].from(query, key, offset)``;
    backpressure (Rx request(n) pages of 8, Akka buffers 32/64 —
    BASELINE.md) becomes declarative trigger pacing.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # footer-only batch peek: learn the physical ts encoding so the
    # declared stream schema matches, then normalize to TIMESTAMP once
    # (same contract as catalog.load_table)
    ts_dtype = dict(spark.read.parquet(path).dtypes).get("ts", "timestamp")
    df = read_table_stream(spark, path, _events_schema(ts_dtype),
                           max_files_per_trigger)
    if ts_dtype == "bigint":
        # integer `div`: nanos exceed 2^53 (catalog.py note)
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif ts_dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        df = df.filter(F.col("user_id") == F.lit(key))
    if offset:
        df = df.filter(F.col("event_id") >= F.lit(int(offset)))
    return df


#: pathless live streaming sources (the jar ships outside this repo,
#: like Engine.CONNECTOR_REQUIRED's mongo/cassandra) -> options each
#: REQUIRES before any I/O.  Kafka additionally needs exactly one
#: subscription mode — validated separately below.
STREAM_CONNECTOR_REQUIRED = {"kafka": ("kafka.bootstrap.servers",)}
_KAFKA_SUBSCRIPTION = ("subscribe", "subscribePattern", "assign")
# Formats where Structured Streaming monitors a directory and cannot
# infer a schema — the only ones where path + explicit schema are a
# hard requirement.  Anything else (rate, socket, external connectors)
# passes through with options forwarded: those sources are pathless
# and/or carry a fixed wire schema of their own.
FILE_STREAM_FORMATS = frozenset({"parquet", "orc", "json", "csv", "text"})


def read_stream_source(spark: SparkSession, fmt: str = "parquet",
                       path: str | None = None, schema=None,
                       **options) -> DataFrame:
    """Generic streaming-source scan — the unbounded twin of
    ``Engine.load``: file formats (FILE_STREAM_FORMATS — path +
    explicit schema, Structured Streaming requires one), the live
    ``kafka`` source (pathless; bootstrap servers + exactly one of
    subscribe/subscribePattern/assign forwarded as options, with the
    reference's fail-fast builder validation BEFORE any I/O —
    mongo/channel/package.scala:252-259 applied to the bus the 100 TB
    ingest actually arrives on), and any OTHER registered streaming
    source (rate, socket, external connectors) passed straight
    through with options forwarded — those are pathless and/or
    schema-fixed by the source itself, so imposing the file-source
    requirements on them would reject legitimate sources.  The kafka
    jar ships outside this repo; validation and option assembly are
    unit-tested without a broker, and payload decoding
    (`decode_kafka_json`) is pure Column logic testable on batch data.
    """
    from nosql_join_stream_spark.engine import QueryValidationError

    required = STREAM_CONNECTOR_REQUIRED.get(fmt, ())
    if required:
        if path is not None:
            raise QueryValidationError(
                f"{fmt} stream source takes no path; pass location via "
                f"options {required}")
        if schema is not None:
            raise QueryValidationError(
                f"{fmt} stream source has a fixed wire schema "
                "(key/value binary + metadata); decode the payload "
                "downstream (decode_kafka_json) instead of passing one")
        missing = [k for k in required if k not in options]
        if missing:
            raise QueryValidationError(
                f"{fmt} stream source requires options {missing}")
        if fmt == "kafka":
            subs = [k for k in _KAFKA_SUBSCRIPTION if k in options]
            if len(subs) != 1:
                raise QueryValidationError(
                    "kafka stream source requires exactly one of "
                    f"{_KAFKA_SUBSCRIPTION}, got {subs or 'none'}")
    elif fmt in FILE_STREAM_FORMATS:
        if path is None:
            raise QueryValidationError(f"{fmt} stream source requires a path")
        if schema is None:
            raise QueryValidationError(
                f"{fmt} stream source requires an explicit schema "
                "(Structured Streaming does not infer)")
    r = spark.readStream.format(fmt)
    if schema is not None:
        r = r.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path) if path is not None else r.load()


def decode_kafka_json(stream: DataFrame, payload_schema,
                      ts_col: str = "ts") -> DataFrame:
    """Decode a kafka wire frame into typed columns: value bytes ->
    string -> from_json(payload_schema), keeping the broker timestamp
    as ``ts_col`` for watermarking.  Pure Column logic (JVM-side, no
    UDF), so it composes with every downstream operator and is
    testable on a batch DataFrame of the same wire shape."""
    return (stream
            .select(F.col("timestamp").alias(ts_col),
                    F.from_json(F.col("value").cast("string"),
                                payload_schema).alias("j"))
            .select(ts_col, "j.*"))


def windowed_counts(stream: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Event-time tumbling-window aggregate with bounded state.
    Beyond-reference (§2.7 T6) but required at scale: the watermark
    caps state-store size; without it a 100 TB stream grows state
    forever."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window), F.col("event_type"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select(F.col("window.start").alias("w_start"),
                    F.col("event_type"), F.col("n_events"), F.col("sum_value")))


def session_window_agg(stream: DataFrame, gap: str = "30 minutes",
                       watermark: str = "2 hours") -> DataFrame:
    """NATIVE session-window aggregation (``F.session_window``) — the
    built-in operator complement to the custom
    ``stateful_session_stats``: Spark's state store merges adjacent
    events into dynamic-width sessions separated by ``gap`` of
    inactivity and emits one row per (user, session) once the
    watermark closes it.  Prefer this form when per-SESSION rows are
    the product (session datasets, funnel inputs); the
    applyInPandasWithState form remains for cross-session running
    state the built-in cannot express.  Append mode: every emitted
    session is final (watermark-closed), so a single-drain result
    equals the batch gaps-and-islands computation — the oracle."""
    return (stream
            .withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap), F.col("user_id"))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("sum_value"))
            .select("user_id",
                    F.col("session_window.start").alias("s_start"),
                    F.col("session_window.end").alias("s_end"),
                    "n_events", "sum_value"))


def enrich_stream(stream: DataFrame, dim: DataFrame, on,
                  select_cols=None) -> DataFrame:
    """Stream-static join — enrich an unbounded log with a batch
    dimension table (beyond-reference: the reference's join only runs
    batch-to-batch; its N+1 per-record lookups ARE this, done badly).
    The static side is broadcast into every micro-batch, so no
    stream-side shuffle and no state store; each matched event is
    emitted exactly once in append mode, making the drained result
    equal to the batch join (the oracle)."""
    from pyspark.sql import functions as _F
    j = stream.join(_F.broadcast(dim), on=on)
    return j.select(*select_cols) if select_cols else j


def interval_join_streams(left: DataFrame, right: DataFrame,
                          key: str, within: str = "1 hour",
                          watermark: str = "2 hours",
                          how: str = "inner") -> DataFrame:
    """Stream-stream join with an event-time interval bound: pair each
    left event with right events of the same key whose timestamp falls
    in ``[left.ts - within, left.ts]``.  ``how`` is Spark's join type:

    - ``inner``: matched pairs only;
    - ``leftOuter``: plus each unmatched left row, NULL-padded — 'the
      purchases and the clicks that preceded them, INCLUDING purchases
      with no preceding click', the attribution query whose unmatched
      side is the interesting one;
    - ``fullOuter``: plus the unmatched rows of BOTH sides — click-less
      purchases AND purchase-less clicks, both abandonment tails in
      one pass.

    The time bound + watermarks are what make this feasible unbounded:
    they let Spark expire buffered rows from BOTH state stores once
    the watermark passes the interval, so state is
    O(events-per-watermark-window), not O(stream history).  Append
    mode emits each matched pair exactly once → the drained inner
    result equals the batch theta join (the oracle).

    Outer NULL rows are watermark-delayed: Spark emits one only once
    the watermark proves no partner can still arrive (a left row at
    its own timestamp, a right row at ``r.ts + within``).  The drained
    outer result therefore equals the batch outer join only if the
    watermark passes every timestamp + ``within`` —
    :func:`interval_join_outer_flush_drain` arranges that.

    HAZARD (measured, Spark 4.1): do NOT add a post-join ``filter``
    on an outer streaming result — even a left-side-only predicate
    suppresses the watermark-flush NULL emissions entirely (the
    synthetic pin in tests/test_streaming.py).  Apply result filters
    batch-side after the sink, as the flush drain does."""
    l = left.withWatermark("ts", watermark).alias("l")
    r = right.withWatermark("ts", watermark).alias("r")
    cond = ((F.col(f"l.{key}") == F.col(f"r.{key}"))
            & (F.col("r.ts") >= F.col("l.ts") - F.expr(f"INTERVAL {within}"))
            & (F.col("r.ts") <= F.col("l.ts")))
    return l.join(r, cond, how)


def dedup_stream(stream: DataFrame, keys: list[str],
                 watermark: str = "2 hours") -> DataFrame:
    """Streaming dedup with bounded state (beyond-reference; the 100 TB
    ingest path).  ``dropDuplicatesWithinWatermark`` keeps one state
    entry per key only until the watermark passes it, so state size is
    O(keys-per-watermark-window), not O(all history).  Emitting only
    the key columns makes the append-mode result deterministic (each
    key appears exactly once, whichever batch saw it first) and equal
    to batch ``SELECT DISTINCT keys`` — the oracle."""
    return (stream.withWatermark("ts", watermark)
                  .dropDuplicatesWithinWatermark(keys)
                  .select(*keys))


def stateful_session_stats(stream: DataFrame,
                           gap_minutes: int = 30) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running session/event/value stats with a
    ``gap_minutes`` inactivity session cut.

    The reference has no stateful streaming at all (SURVEY.md §2.7
    T6); this is the Spark-native form a 100 TB pipeline needs: state
    is one fixed-width row per user in the state store, each
    micro-batch updates it from Arrow-batched pandas, and the emitted
    row is the running total.  Emissions are cumulative, so the final
    answer per user is recoverable from any update history with
    ``max(struct(n_events, ...))`` — deterministic even if the source
    splits into several micro-batches.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap_ns = gap_minutes * 60 * 1_000_000_000
    out_schema = ("user_id long, n_sessions long, n_events long, "
                  "sum_value double")
    state_schema = ("last_ts long, n_sessions long, n_events long, "
                    "sum_value double")

    def fn(key, pdfs, state):
        import math as _math

        import pandas as _pd
        if state.exists:
            last_ts, n_sessions, n_events, sum_value = state.get
        else:
            last_ts, n_sessions, n_events, sum_value = None, 0, 0, 0.0
        pdf = _pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        ts = pdf["ts"].astype("int64").to_numpy()  # ns
        for t in ts:
            if last_ts is None or t - last_ts > gap_ns:
                n_sessions += 1
            last_ts = int(t)
        n_events += len(pdf)
        sum_value += float(pdf["value"].sum())
        state.update((last_ts, n_sessions, n_events, sum_value))
        # half-away-from-zero (Spark F.round / DuckDB ROUND semantics):
        # sums of 2-dp decimals hit exact .5 boundaries, where python's
        # half-even round() diverges (registry float policy)
        rsv = _math.floor(abs(sum_value) * 100 + 0.5) / 100 \
            * (1 if sum_value >= 0 else -1)
        yield _pd.DataFrame([{"user_id": key[0], "n_sessions": n_sessions,
                              "n_events": n_events,
                              "sum_value": rsv}])

    return (stream.groupBy("user_id")
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def write_stream_files(df: DataFrame, path: str, checkpoint: str,
                       fmt: str = "parquet") -> None:
    """Durable streaming sink: checkpointed file output (exactly-once
    via the sink's transaction log + source offsets — restarting over
    a grown source processes only new data; asserted in tests),
    drained and stopped (backfill mode)."""
    drain(df.writeStream.format(fmt)
          .option("path", path)
          .option("checkpointLocation", checkpoint)
          .outputMode("append"))


def _overwrite_per_batch(stream: DataFrame, path: str, checkpoint: str,
                         probe=None, partition_cols=(),
                         output_mode: str = "append") -> None:
    """Drain ``stream`` through ``foreachBatch``, writing each
    micro-batch (or ``probe(batch)`` for non-empty batches) into its
    own ``__batch_id=N/`` hive partition by dynamic partition
    overwrite — the replay-idempotent write of
    :func:`write_stream_idempotent`."""
    part_cols = ["__batch_id", *partition_cols]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if probe is not None:
            if batch_df.isEmpty():
                return
            batch_df = probe(batch_df)
        (batch_df.withColumn("__batch_id", F.lit(batch_id))
                 .write.mode("overwrite")
                 .option("partitionOverwriteMode", "dynamic")
                 .partitionBy(*part_cols)
                 .parquet(path))

    drain(stream.writeStream.foreachBatch(write_batch)
          .outputMode(output_mode)
          .option("checkpointLocation", checkpoint))


def write_stream_idempotent(df: DataFrame, path: str, checkpoint: str,
                            extra_partition_cols: list[str] | None = None,
                            output_mode: str = "append") -> None:
    """Exactly-once streaming file sink via idempotent batch REPLAY —
    the ``foreachBatch`` form production pipelines use when the target
    isn't Spark's own transactional file sink (plain parquet layouts,
    external tables, downstream-compacted dirs).

    Mechanism: every micro-batch stamps its rows with ``__batch_id``
    and OVERWRITES exactly the hive partition ``__batch_id=N/``
    (dynamic partition overwrite — untouched partitions are left in
    place).  The batch id is stable across restarts (it comes from the
    checkpointed offset log), so the crash window between "files
    written" and "commit recorded" is closed by construction: a replay
    of batch N rewrites ``__batch_id=N/`` with the same rows instead
    of appending a duplicate copy.  Restart-no-duplicates is pinned in
    tests by deleting the checkpoint's commit record and re-draining.

    At 100 TB this is the streaming analog of the batch
    ``partitioned_sink``: each micro-batch is one atomic partition
    swap, readers see per-batch directories they can compact or
    retention-expire independently, and ``extra_partition_cols``
    (e.g. a time bucket) adds pruning for readers without weakening
    the idempotency key.  ``output_mode="update"`` suits stateful
    upstreams: each batch's partition then holds that batch's
    emissions.
    """
    _overwrite_per_batch(df, path, checkpoint,
                         partition_cols=extra_partition_cols or (),
                         output_mode=output_mode)


def stateful_quality_ewma(stream: DataFrame, group_col: str,
                          id_col: str, value_col: str, hash_col: str,
                          alpha: float = 0.2) -> DataFrame:
    """Per-group exponentially-weighted moving average over an
    unbounded stream — the drift monitor a continuously-crawled corpus
    needs: one (ewma, count) state row per source tracks quality (or
    any per-doc metric) as ingest flows, so a source whose EWMA sags
    below its long-run level flags a crawler regression or a spam
    flood WHILE it is happening, not at the next batch audit.

    State is two numbers per group (applyInPandasWithState, update
    mode).  Within each micro-batch rows fold in the deterministic
    ``hash_col`` order (ties to ``id_col``), seeded by the first value
    — so a single-batch AvailableNow drain reproduces the batch fold
    exactly, which a DuckDB ``list_reduce`` over the same ordered list
    replays bit-for-bit: a FULL value oracle for a stateful streaming
    operator.  Emissions are cumulative; the final row per group is
    the answer.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    alpha = float(alpha)
    beta = 1.0 - alpha  # bind once: both engines use the same double
    group_t = dict(stream.dtypes)[group_col]
    out_schema = f"{group_col} {group_t}, n_seen long, ewma double"
    state_schema = "ewma double, n long"

    def fn(key, pdfs, state):
        import math as _math

        import pandas as _pd
        if state.exists:
            ewma, n = state.get
        else:
            ewma, n = None, 0
        pdf = _pd.concat(list(pdfs)).sort_values([hash_col, id_col])
        for x in pdf[value_col].astype("float64"):
            ewma = float(x) if ewma is None else alpha * float(x) + beta * ewma
        n += len(pdf)
        state.update((float(ewma), int(n)))
        # half-away rounding: the fold is arithmetic on a small decimal
        # grid, so .5 boundaries occur (registry float policy)
        rew = _math.floor(abs(ewma) * 1e6 + 0.5) / 1e6 \
            * (1 if ewma >= 0 else -1)
        yield _pd.DataFrame([{group_col: key[0], "n_seen": n,
                              "ewma": rew}])

    return (stream.groupBy(group_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def stream_ann_probe(query_stream: DataFrame, index_location: str,
                     out_path: str, checkpoint: str,
                     k: int = 5, nprobe: int = 4,
                     query_id: str = "q_id", vec: str = "embedding",
                     corpus_filter=None) -> None:
    """Online vector retrieval: a STREAM of query vectors probed
    against the standing IVF index, each micro-batch a pruned
    cell-scan probe — the query-service shape a deployed retrieval
    stack runs (index maintained by ann_ivf_append/delete on the
    ingest side; queries arrive on a bus and are answered
    continuously).

    Per micro-batch (``foreachBatch`` turns it into a batch frame, so
    the full batch probe — mapInPandas cell assignment, PartitionFilters
    pruning, broadcast rerank — applies unchanged via
    ``similarity.ann_ivf_probe``): the top-k per query is computed and
    written through the idempotent per-batch partition overwrite of
    ``write_stream_idempotent``, so replays cannot duplicate answers.
    State: none beyond the source offsets — each query is answered
    once, and the probe cost tracks the BATCH's cell selectivity, not
    corpus size.
    """
    from nosql_join_stream_spark.operators.similarity import ann_ivf_probe

    _overwrite_per_batch(
        query_stream, out_path, checkpoint,
        probe=lambda b: ann_ivf_probe(b, index_location, k=k, nprobe=nprobe,
                                      query_id=query_id, vec=vec,
                                      corpus_filter=corpus_filter))


def stream_minhash_dedup(doc_stream: DataFrame, out_path: str,
                         checkpoint: str,
                         content_col: str = "text",
                         id_col: str = "doc_id",
                         db: str = "nsjs_mh_index",
                         threshold: float = 0.6,
                         min_band_matches: int = 2) -> None:
    """Continuous banded dedup at ingest: each micro-batch of arriving
    docs probes the STANDING MinHash band index
    (``dedup.minhash_pairs_between_bucketed`` — batch band rows
    sort-merge-join the bucketed corpus table, zero corpus-side
    Exchange) and the verified (corpus_doc, new_doc, jaccard) pairs
    land through the idempotent per-batch partition overwrite — a
    near-dup is flagged the moment the doc arrives, at the banded
    tier where even the exact gram index is too big.

    The index itself stays read-only here: growth is the scheduled
    ``minhash_index_append`` of accepted docs (a bucketBy table append
    is not replay-idempotent, so folding it into the stream would
    break the sink's exactly-once story — the probe/append split is
    the same serve/maintain separation as the vector index).  With a
    single-batch AvailableNow drain the output EQUALS the batch
    cross-set dedup — the oracle.
    """
    from nosql_join_stream_spark.operators.dedup import (
        minhash_pairs_between_bucketed)

    _overwrite_per_batch(
        doc_stream, out_path, checkpoint,
        probe=lambda b: minhash_pairs_between_bucketed(
            b, b, content_col, id_col,
            threshold=threshold, min_band_matches=min_band_matches,
            db=db, rebuild=False))  # corpus arg unused on probe path


def stream_ppjoin_dedup(doc_stream: DataFrame, corpus: DataFrame,
                        out_path: str, checkpoint: str,
                        content_col: str = "text",
                        id_col: str = "doc_id",
                        threshold: float = 0.6) -> None:
    """EXACT-tier streaming incremental dedup: each micro-batch of
    arriving docs runs the cross-set PPJoin
    (``dedup.ngram_jaccard_pairs_between``) against the static corpus,
    so the candidate space stays prefix/length/positional-bounded at
    ingest exactly as in the batch daily job; verified pairs land via
    the idempotent per-batch partition overwrite.

    Why foreachBatch and not a stream-static gram equi-join: the naive
    in-stream form (explode grams, join corpus postings, complete-mode
    count) is QUADRATIC in hot-gram document frequency — corpus-df ×
    batch-df candidates per gram, unbounded by any prefix filter —
    and streaming planability forbids the PPJoin's candidate→verify
    re-join.  SCALING probe r41 measured the naive form at ×106 over
    a 10× corpus while the batch PPJoin twin grew ×7; this form IS
    that twin, per micro-batch.  With a single-batch AvailableNow
    drain the output equals the batch cross-set dedup — the oracle.
    """
    from nosql_join_stream_spark.operators.dedup import (
        ngram_jaccard_pairs_between)

    _overwrite_per_batch(
        doc_stream, out_path, checkpoint,
        probe=lambda b: ngram_jaccard_pairs_between(
            corpus, b, content_col, id_col, threshold=threshold))


def run_available_now(df: DataFrame, prefix: str,
                      output_mode: str = "complete",
                      shuffle_partitions: int = _DEFAULT_STORES
                      ) -> DataFrame:
    """Drain everything currently in the source into a memory sink
    and stop — the batch harness for streaming queries
    (Trigger.AvailableNow).  Returns the sink's table, named
    ``{prefix}_{n}`` with ``n`` from :func:`next_run_id`, so every call
    is a fresh query.

    Default ``complete`` mode: with a finite backfill, append mode
    withholds windows the watermark hasn't passed, so complete mode is
    the one whose final memory-sink contents equal the batch answer.
    ``shuffle_partitions`` is the state-store count (see
    :func:`_state_stores`).

    When the session sets ``spark.sql.streaming.checkpointLocation``,
    Spark keeps each query's checkpoint under it after the query
    stops; the drain's own subdir is deleted here, since no later
    query reuses it (the sink rows live in the driver, so the returned
    table stays readable)."""
    spark = df.sparkSession
    name = f"{prefix}_{next_run_id()}"
    drain(df.writeStream.outputMode(output_mode)
          .format("memory").queryName(name),
          spark, shuffle_partitions)
    root = spark.conf.get("spark.sql.streaming.checkpointLocation", None)
    if root and os.path.isdir(os.path.join(root, name)):
        shutil.rmtree(os.path.join(root, name))
    return spark.table(name)


def _stage_flush_input(events_path: str, inp: str,
                       left_type: str, right_type: str) -> None:
    """Stage the event log into ``inp`` (symlinks — no data copied)
    plus one parquet file carrying a far-future WATERMARK FLUSH
    SENTINEL row PER SIDE (both event types at the same timestamp —
    the global watermark is the MIN across both sides' nodes, so one
    side alone does not flush; the first sf0.001 probe measured
    exactly that as 3 withheld rows).  Sentinels carry negative ids
    and user ids, so they match nothing real and are filtered
    batch-side after the sink.  Idempotent: an already-staged dir is
    left untouched (re-drains reuse it via the checkpoint)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(inp):
        return
    os.makedirs(inp)
    src_files = ([events_path] if os.path.isfile(events_path) else
                 sorted(os.path.join(events_path, f)
                        for f in os.listdir(events_path)
                        if f.endswith(".parquet")))
    for i, f in enumerate(src_files):
        os.symlink(os.path.abspath(f),
                   os.path.join(inp, f"{i:04d}_src.parquet"))
    # sentinel ts: far past anything real (any fixed future date
    # beyond the log works; derived from the source max would need
    # a scan — the log's synthetic horizon is January 2024)
    sch = pq.ParquetFile(src_files[0]).schema_arrow.remove_metadata()
    ts_field = sch.field("ts").type
    t1 = datetime.datetime(2100, 1, 1)
    ts_val = (int(t1.timestamp() * 1e9) if pa.types.is_integer(ts_field)
              else t1)
    pq.write_table(pa.table({
        "event_id": pa.array([-1, -2], pa.int64()),
        "ts": pa.array([ts_val, ts_val], ts_field),
        "user_id": pa.array([-1, -2], pa.int64()),
        "event_type": pa.array([left_type, right_type], pa.string()),
        "value": pa.array([0.0, 0.0], pa.float64()),
        "props": pa.array([None, None], pa.string()),
    }, schema=sch), os.path.join(inp, "zz_flush.parquet"))


def interval_join_outer_flush_drain(
        spark: SparkSession, events_path: str, run_dir: str,
        left_type: str = "purchase", right_type: str = "click",
        key: str = "user_id", within: str = "1 hour",
        watermark: str = "2 hours", how: str = "leftOuter") -> DataFrame:
    """Deterministically drain an outer interval join (``how`` =
    ``leftOuter`` or ``fullOuter``, see :func:`interval_join_streams`)
    to its complete batch answer — closing the 'tail emission is
    batch-schedule-dependent' caveat the outer forms used to carry.

    On a finite backfill the watermark (max event time − delay) never
    passes the newest rows, so their NULL rows stay withheld forever.
    The fix is a WATERMARK FLUSH SENTINEL: the source is staged into
    ``run_dir/in`` with one far-future row per side
    (:func:`_stage_flush_input`).  ``Trigger.AvailableNow`` then runs
    the sentinel batch plus a final flush batch, after which every
    real row is either matched or past-watermark on whichever side it
    sat → the parquet-sink contents EQUAL the batch outer join, row
    for row.  Sentinels match nothing real, and their own NULL rows
    are never flushed because nothing advances the watermark past the
    maximum timestamp.  The result is filtered to ``key >= 0`` on the
    coalesced key BATCH-side after the sink, never as a streaming
    post-join filter (the HAZARD of :func:`interval_join_streams`).

    Output columns: ``left_id``, ``right_id``, ``key``,
    ``left_value``, ``right_value``.  The checkpoint makes re-drains
    of the same ``run_dir`` no-ops (zero new files → the reread
    sink), so repeated calls are cheap and idempotent."""
    inp = os.path.join(run_dir, "in")
    out = os.path.join(run_dir, "out")
    _stage_flush_input(events_path, inp, left_type, right_type)
    left = read_log_stream(spark, inp).filter(
        F.col("event_type") == left_type)
    right = read_log_stream(spark, inp).filter(
        F.col("event_type") == right_type)
    j = interval_join_streams(left, right, key=key, within=within,
                              watermark=watermark, how=how)
    raw = j.select(F.col("l.event_id").alias("left_id"),
                   F.col("r.event_id").alias("right_id"),
                   F.coalesce(F.col(f"l.{key}"),
                              F.col(f"r.{key}")).alias(key),
                   F.col("l.value").alias("left_value"),
                   F.col("r.value").alias("right_value"))
    # 8 state stores, not the batch shuffle width (_state_stores)
    drain(raw.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
          .outputMode("append"),
          spark, 8)
    return spark.read.parquet(out).filter(F.col(key) >= 0)


DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

EMBEDDINGS_SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.StringType()),
])


def read_table_stream(spark: SparkSession, path: str,
                      schema: T.StructType,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """Unbounded file-source scan of any parquet table (the ingest
    side of a continuously-crawled corpus: new parquet files appear,
    the stream picks them up exactly once via checkpointed offsets)."""
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.load(path)


def stateful_budget_admission(stream: DataFrame, group_col: str,
                              id_col: str, weight_col: str,
                              hash_col: str, budget: int) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    online token-budget admission — the streaming twin of
    ``sampling.budget_per_group``.

    State is ONE long per group: the total weight seen so far.  Each
    micro-batch sorts its group's rows in the deterministic
    ``hash_col`` order and admits a row iff the running spent total is
    still under ``budget``; the total advances over every row seen
    (admitted or not), exactly like the batch draw's exclusive prefix
    sum, so once the budget line is crossed nothing more admits.  With
    an AvailableNow drain of a single-file source (one micro-batch per
    group) the admitted set is bit-identical to the batch operator —
    the oracle; over a multi-batch stream the policy is the online
    first-arrived-first-considered form with hash order within a
    batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Derive the group column's type from the input schema — a long
    # user_id group key must not be emitted as string (Arrow schema
    # mismatch at runtime otherwise).
    group_t = dict(stream.dtypes)[group_col]
    out_schema = f"{id_col} long, {group_col} {group_t}, {weight_col} long"
    state_schema = "spent long"

    def fn(key, pdfs, state):
        import pandas as _pd
        spent = state.get[0] if state.exists else 0
        pdf = _pd.concat(list(pdfs)).sort_values([hash_col, id_col])
        w = pdf[weight_col].astype("int64")
        cum_before = spent + w.cumsum() - w
        admitted = pdf[cum_before < budget]
        state.update((int(spent + w.sum()),))
        yield _pd.DataFrame({
            id_col: admitted[id_col].astype("int64"),
            group_col: key[0],
            weight_col: admitted[weight_col].astype("int64"),
        })

    return (stream.groupBy(group_col)
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_cdc_upsert(stream: DataFrame, path: str, checkpoint: str,
                      key_col: str, order_by: list[str],
                      num_buckets: int = 32,
                      delete_col: str | None = None) -> None:
    """Streaming CDC materialization: every micro-batch MERGEs into
    the keyed standing table (``sinks.upsert_keyed``) instead of
    appending — the streaming half of the physical-merge story, and
    the pattern that keeps a serving table continuously current from
    a change stream.

    Exactly-once needs no ``__batch_id`` partitions here because the
    keep-latest MERGE is naturally idempotent: a crash between "files
    written" and "commit recorded" replays the batch into the same
    buckets and keep-latest converges to the identical table (pinned
    by the commit-record-deletion test).  The first batch bootstraps
    the table (``write_keyed`` of its own compaction) so the stream
    needs no out-of-band initialization.

    Per batch the cost is the upsert contract: touched buckets only,
    never table size — an unbounded stream maintains a 100 TB serving
    table by rewriting the few buckets each micro-batch lands in.
    ``delete_col`` passes through to the MERGE: a change stream that
    carries delete ops keeps the served table exact (delete-if-latest
    is as replay-idempotent as keep-latest, so exactly-once still
    needs no batch-id bookkeeping).
    """
    from nosql_join_stream_spark.sinks import (_mark_deletes,
                                               latest_per_key,
                                               upsert_keyed, write_keyed)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # bootstrap gate = the table's meta sidecar (written LAST by
        # write_keyed), checked through Spark so it works on any
        # filesystem: a crash MID-bootstrap leaves no marker, the
        # upsert refuses, and the replay re-bootstraps over the
        # partial dir instead of merging into it.  (A crash AFTER the
        # write replays the batch as an upsert of the same rows — same
        # table either way.)  Upsert-first keeps it to ONE meta read
        # per micro-batch on the steady-state path.
        try:
            upsert_keyed(batch_df.sparkSession, path, batch_df, key_col,
                         order_by, count_rows=False,
                         delete_col=delete_col)
        except ValueError as e:
            if "no completely-written keyed table" not in str(e):
                raise
            marked = _mark_deletes(batch_df, delete_col)
            first = (latest_per_key(marked, key_col, order_by)
                     .filter(~F.col("__del")).drop("__del"))
            write_keyed(first, path, key_col, num_buckets=num_buckets)

    drain(stream.writeStream.foreachBatch(write_batch)
          .outputMode("append")
          .option("checkpointLocation", checkpoint))


def stream_cdc_upsert_snapshot(stream: DataFrame, path: str,
                               checkpoint: str, key_col: str,
                               order_by: list[str],
                               num_buckets: int = 32,
                               delete_col: str | None = None) -> None:
    """Streaming CDC into the SNAPSHOT-ISOLATED table: every
    micro-batch merges via ``upsert_keyed_snapshot``, so concurrent
    readers of the continuously-updated serving table always resolve
    a complete committed version — never a half-merged mix of buckets
    (the in-place form's documented reader hazard).  Each batch
    publishes one manifest version; replay after a crash re-merges
    the batch into a CONTENT-identical new version (keep-latest +
    delete-if-latest are idempotent), so exactly-once needs no
    batch-id bookkeeping — the version number advances but the table
    a reader sees does not change.  GC retires old versions on its
    own schedule, and its committed-version guard makes it safe to
    run while the stream merges.  First batch bootstraps."""
    from nosql_join_stream_spark.sinks import (_mark_deletes,
                                               latest_per_key,
                                               upsert_keyed_snapshot,
                                               write_keyed_snapshot)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            upsert_keyed_snapshot(batch_df.sparkSession, path, batch_df,
                                  key_col, order_by,
                                  delete_col=delete_col)
        except ValueError as e:
            if "no committed snapshot" not in str(e):
                raise
            marked = _mark_deletes(batch_df, delete_col)
            first = (latest_per_key(marked, key_col, order_by)
                     .filter(~F.col("__del")).drop("__del"))
            write_keyed_snapshot(first, path, key_col,
                                 num_buckets=num_buckets)

    drain(stream.writeStream.foreachBatch(write_batch)
          .outputMode("append")
          .option("checkpointLocation", checkpoint))


def stream_sketch_quantiles(spark: SparkSession, events_path: str,
                            run_dir: str, value_col: str = "value",
                            qs: "tuple" = (0.25, 0.5, 0.75, 0.9),
                            rank_err: float = 0.02,
                            n_splits: int = 4) -> DataFrame:
    """Streaming quantile monitoring via mergeable KLL sketches — the
    sketch-MERGE-ACROSS-TIME deployment the batch operator
    (expectations.sketch_quantiles_by_group) only simulates: each
    micro-batch reduces to ONE KB-sized sketch row appended to a
    standing sketch table, and corpus-lifetime percentiles are
    answered by merging the accumulated sketches
    (``kll_merge_agg_double``) — no micro-batch is ever re-scanned.
    At 100 TB/day this is the only affordable shape: state per batch
    is O(k log n) bytes, the merge input is rows-per-batch, and the
    raw stream is touched exactly once.

    Drain mechanics: the log is staged into ``n_splits`` real parquet
    slices (idempotent; row-slice split so every micro-batch carries
    a value mix) and read with ``maxFilesPerTrigger=1`` under
    ``Trigger.AvailableNow`` — one sketch row per slice, so the final
    merge GENUINELY combines ``n_splits`` independent sketches (the
    result asserts it in-plan; a single-batch drain would vacuously
    pass a merge test).

    Returns one row per q: (q, qv — the EXACT percentile over the
    whole log, rounded to 4, the oracle-checkable truth — kll_ok, and
    n_batches).  ``kll_ok`` re-ranks the MERGED sketch's estimate
    exactly against the full log with the same tie-tolerant interval
    as the batch operator: q ∈ [rank_lt − rank_err, rank_le +
    rank_err].
    """
    import pyarrow.parquet as pq

    inp = os.path.join(run_dir, "in")
    sk_dir = os.path.join(run_dir, "sketches")
    ckpt = os.path.join(run_dir, "ckpt")
    if not os.path.isdir(inp):
        os.makedirs(inp, exist_ok=True)
        tbl = pq.read_table(events_path)
        n = tbl.num_rows
        step = (n + n_splits - 1) // n_splits
        for i in range(n_splits):
            pq.write_table(tbl.slice(i * step, step),
                           os.path.join(inp, f"{i:04d}_slice.parquet"))
    stream = read_log_stream(spark, inp, max_files_per_trigger=1)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # replay-idempotent: each micro-batch OVERWRITES its own
        # batch_id=N subdir — a retried batch replaces its sketch row
        # instead of appending a duplicate that would double-count
        # the slice's mass in the merge (the same per-batch-partition
        # discipline as write_stream_idempotent)
        # (batch_id rides the partition DIR, not a data column —
        # discovery re-attaches it on read)
        (batch_df.agg(
            F.expr(f"kll_sketch_agg_double({value_col})").alias("sk"),
            F.count("*").alias("n_rows"))
         .write.mode("overwrite")
         .parquet(os.path.join(sk_dir, f"batch_id={batch_id}")))

    drain(stream.writeStream.foreachBatch(write_batch)
          .outputMode("append")
          .option("checkpointLocation", ckpt))

    sk = spark.read.parquet(sk_dir)
    merged = sk.agg(
        F.expr("kll_merge_agg_double(sk)").alias("msk"),
        # the merge must combine >1 sketches or this test is vacuous
        F.count("*").alias("n_batches"))
    merged = merged.select(
        "msk",
        F.when(F.col("n_batches") >= 2, F.col("n_batches"))
         .otherwise(F.raise_error(F.lit(
             "single-batch drain: sketch merge not exercised"))
             .cast("long")).alias("n_batches"),
        *[F.expr(f"kll_sketch_get_quantile_double(msk, {q_})")
          .alias(f"__e_{i}") for i, q_ in enumerate(qs)])
    full = spark.read.parquet(events_path).select(
        F.col(value_col).cast("double").alias("__v"))
    rank_aggs = []
    for i in range(len(qs)):
        rank_aggs.append(F.avg((F.col("__v") < F.col(f"__e_{i}"))
                               .cast("double")).alias(f"__rlt_{i}"))
        rank_aggs.append(F.avg((F.col("__v") <= F.col(f"__e_{i}"))
                               .cast("double")).alias(f"__rle_{i}"))
    exact_aggs = [F.expr(f"round(percentile(__v, {q_}), 4)")
                  .alias(f"__qv_{i}") for i, q_ in enumerate(qs)]
    checked = (full.crossJoin(F.broadcast(merged))
               .agg(*exact_aggs, *rank_aggs,
                    F.first("n_batches").alias("n_batches")))
    rows = []
    for i, q_ in enumerate(qs):
        ok = ((F.lit(float(q_))
               >= F.col(f"__rlt_{i}") - F.lit(float(rank_err)))
              & (F.lit(float(q_))
                 <= F.col(f"__rle_{i}") + F.lit(float(rank_err))))
        rows.append(F.struct(F.lit(float(q_)).alias("q"),
                             F.col(f"__qv_{i}").alias("qv"),
                             ok.alias("kll_ok"),
                             F.col("n_batches").alias("n_batches")))
    return (checked.select(F.explode(F.array(*rows)).alias("r"))
            .select("r.q", "r.qv", "r.kll_ok", "r.n_batches"))


def late_data_quarantine(spark: SparkSession, events_path: str,
                         run_dir: str, delay_s: int = 21600,
                         late_mod: int = 97) -> DataFrame:
    """Late-data DEAD-LETTER QUEUE — the piece Spark's watermark
    lacks: ``withWatermark`` silently DROPS rows older than the
    watermark from stateful operators, which for a training-data
    pipeline means silently losing stragglers.  This operator makes
    the same decision visible: every micro-batch routes rows older
    than (previous drain's max event time − delay) to a quarantine
    table and the rest to the main output, so late arrivals are
    auditable/replayable instead of gone.

    Mechanics: two AvailableNow drains over one checkpoint.  Drain 1
    ingests the on-time log (``event_id % late_mod != 0``) with no
    prior watermark — nothing quarantines, the per-batch max event
    time lands in a KB watermark-state table.  Drain 2 ingests the
    straggler slice (``% late_mod == 0``); its cutoff is FROZEN at
    drain start from the accumulated watermark state (never advanced
    mid-drain), so routing is deterministic whatever the file→batch
    packing, and a replayed batch re-routes identically (cutoff is a
    pure function of the PRIOR drain).  All three per-batch writes
    (main, quarantine, watermark row) overwrite their own
    ``batch_id=N`` partition — the replay-idempotent discipline of
    :func:`write_stream_idempotent`.

    State is O(batches) KB rows; the quarantine decision costs one
    comparison per row — no join, no extra shuffle.  Returns the
    quarantine table (the rows a bare watermark would have silently
    dropped).
    """
    inp = os.path.join(run_dir, "in")
    main = os.path.join(run_dir, "main")
    quar = os.path.join(run_dir, "quarantine")
    wm_dir = os.path.join(run_dir, "wm")
    ckpt = os.path.join(run_dir, "ckpt")
    ev = spark.read.parquet(events_path)

    def drain_slice(cutoff) -> None:
        stream = read_log_stream(spark, inp)

        def route(batch_df: DataFrame, batch_id: int) -> None:
            is_late = (F.col("ts") < F.lit(cutoff) if cutoff is not None
                       else F.lit(False))
            (batch_df.filter(is_late)
             .write.mode("overwrite")
             .parquet(os.path.join(quar, f"batch_id={batch_id}")))
            (batch_df.filter(~is_late)
             .write.mode("overwrite")
             .parquet(os.path.join(main, f"batch_id={batch_id}")))
            (batch_df.agg(F.max("ts").alias("max_ts"))
             .write.mode("overwrite")
             .parquet(os.path.join(wm_dir, f"batch_id={batch_id}")))

        drain(stream.writeStream.foreachBatch(route)
              .outputMode("append")
              .option("checkpointLocation", ckpt))

    # Staging completeness is gated on an explicit _DONE marker written
    # AFTER drain 2 — not on wm_dir existing (r11 advisor): wm_dir is
    # created by drain 1's first batch, so a crash between the drains
    # would make every later call skip staging and hand back a
    # quarantine missing all stragglers.  A partially-staged run_dir
    # (wm state present, no marker) fails loudly instead: the
    # checkpoint/input state mid-crash is ambiguous, so the honest
    # recovery is a fresh run_dir, not a silent half-resume.
    done_marker = os.path.join(run_dir, "_DONE")
    if not os.path.exists(done_marker):
        if os.path.isdir(wm_dir):
            raise RuntimeError(
                f"late_data_quarantine: {run_dir} is partially staged "
                f"(watermark state exists but no _DONE marker) — a "
                f"prior run crashed mid-staging; point at a fresh "
                f"run_dir")
        os.makedirs(inp, exist_ok=True)
        ev.filter(F.col("event_id") % late_mod != 0) \
          .write.mode("overwrite").parquet(inp)
        drain_slice(cutoff=None)
        ev.filter(F.col("event_id") % late_mod == 0) \
          .write.mode("append").parquet(inp)
        from datetime import timedelta
        wm = spark.read.parquet(wm_dir).agg(
            F.max("max_ts").alias("m")).collect()[0]["m"]
        drain_slice(cutoff=wm - timedelta(seconds=delay_s))
        with open(done_marker, "w") as f:
            f.write("staged\n")
    return spark.read.parquet(quar).drop("props")


def stream_scd2_enrich(fact_stream: DataFrame, dim: DataFrame,
                       out_path: str, checkpoint: str, on: str,
                       left_ts: str, right_ts: str,
                       payload: list[str]) -> None:
    """Streaming point-in-time dimension enrichment: each micro-batch
    of fact events picks up the dimension attribute valid AT its
    timestamp from a standing SCD2 history (sinks.scd2_history) — the
    streaming twin of cdc_scd2_point_in_time, and the shape a real
    pipeline runs: dimension history is a maintained table, facts
    arrive continuously, and every fact must be stamped with the
    dimension state as of ITS time (not the current state, which
    enrich_stream's plain stream-static join would give).

    foreachBatch because the as-of lookup is a union + per-key ordered
    window (operators/join.asof_join), which streaming planability
    forbids in-plan; per batch it is the standard batch operator with
    the SAME bounded shape (one key shuffle, no range-join pair
    space).  Results land via the idempotent per-batch partition
    overwrite, so a replayed batch id retracts-and-replaces instead
    of double-publishing.  With a single-batch AvailableNow drain the
    drained output equals the batch point-in-time join — the oracle.
    """
    from nosql_join_stream_spark.operators.join import asof_join

    _overwrite_per_batch(
        fact_stream, out_path, checkpoint,
        probe=lambda b: asof_join(b, dim, on=on, left_ts=left_ts,
                                  right_ts=right_ts, payload=payload,
                                  direction="backward"))
