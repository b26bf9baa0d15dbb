"""Sinks — the write side the reference leaves to its tests.

Reference S10 (SURVEY.md §2.1): the library ships NO sinks; tests
attach buffer sinks / ``Sink.seq`` / ``runFold``
(JoinMongoSpec.scala:62, PartitionedLogAkkaSpec.scala:52,
AkkaJoinCassandraSpec.scala:75).  Spark-first, a sink is
``df.write`` / ``df.writeStream`` — these helpers add the three
layout decisions that matter at 100 TB:

- **partitioning** (``partition_by``): directory-level pruning for
  every downstream scan that filters on the partition column;
- **bucketing** (``write_bucketed``): pre-shuffled layout so a later
  equi-join/agg on the bucket key is shuffle-free (sort-merge join
  reads co-located buckets directly);
- **z-ordering** (``write_zordered``): Morton-curve clustering so
  row-group min/max stats prune range filters on several columns at
  once, not just a sort's leading column.
"""

from __future__ import annotations

import atexit
import math
import os
import re
import shutil
import tempfile
import uuid
from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def write_table(df: DataFrame, path: str, fmt: str = "parquet",
                mode: str = "overwrite",
                partition_by: Sequence[str] | None = None,
                sort_by: Sequence[str] | None = None) -> None:
    """Batch sink: write ``df`` to ``path`` (reference S10 analog).

    ``partition_by`` produces hive-style ``col=value`` directories —
    the partition-pruning contract downstream scans rely on.
    ``sort_by`` sorts within output files so parquet row-group min/max
    stats become selective — range filters on the sort key then skip
    whole row groups at scan time (data skipping without an index).
    """
    if sort_by:
        df = df.sortWithinPartitions(*sort_by)
    w = df.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_observed(df: DataFrame, path: str,
                   metrics: dict[str, Column] | None = None,
                   fmt: str = "parquet", mode: str = "overwrite",
                   partition_by: Sequence[str] | None = None,
                   sort_by: Sequence[str] | None = None) -> dict:
    """Write with IN-FLIGHT metrics (Spark's ``Observation`` API):
    the aggregates compute on the write's own scan — map-side, zero
    extra jobs — and return as a dict when the write finishes.  This
    is the audit half of write-audit-publish for free: at 100 TB a
    separate post-write count/null-check re-reads everything the
    write just produced, while an observation rides along.

    ``metrics``: {name: aggregate Column} (e.g. ``F.count(F.lit(1))``,
    ``F.sum(F.col('x').isNull().cast('int'))``); defaults to the row
    count.  Only aggregates on the written columns are valid
    (Observation restriction: no distinct/sort-based aggregates).
    """
    from pyspark.sql import Observation

    if metrics is None:
        metrics = {"n_rows": F.count(F.lit(1))}
    obs = Observation()
    observed = df.observe(obs, *[m.alias(k) for k, m in metrics.items()])
    write_table(observed, path, fmt=fmt, mode=mode,
                partition_by=partition_by, sort_by=sort_by)
    return obs.get


# Standing artifacts with build-once-serve-many semantics (indexes,
# CDC tables, stream run dirs) key their default dir on a token minted
# once per interpreter, not on the bare pid: pids recycle, so a later
# process could inherit a stale artifact built from different data and
# silently serve it.  Every dir handed out is rmtree'd at process exit
# so temp space doesn't accumulate across runs.
_RUN_TOKEN = uuid.uuid4().hex[:12]
_ARTIFACT_DIRS: set[str] = set()


def artifact_dir(prefix: str, tag: str) -> str:
    """Session-scoped standing-artifact directory (stable within this
    process, collision-free across processes, cleaned up at exit)."""
    d = os.path.join(tempfile.gettempdir(), f"{prefix}_{_RUN_TOKEN}_{tag}")
    _ARTIFACT_DIRS.add(d)
    return d


@atexit.register
def _cleanup_artifact_dirs() -> None:
    for d in _ARTIFACT_DIRS:
        shutil.rmtree(d, ignore_errors=True)


# Every artifact dir ``standing`` built in this process, in build order.
STANDING_BUILT: list[str] = []


def standing(loc: str, build: Callable[[], object]) -> bool:
    """Build-once gate for a STANDING artifact in the local dir ``loc``
    (an index, label table, keyed snapshot or export that later calls
    reuse instead of rebuilding).

    - ``loc/_STANDING`` exists: the artifact is complete; return False
      without calling ``build`` (the reused case).
    - ``loc`` holds files but no marker: a build that never finished
      left them; raise ``RuntimeError`` naming ``loc``.  Nothing is
      deleted, and a partial write is never served.
    - otherwise: call ``build()``, then write the marker, record
      ``loc`` in ``STANDING_BUILT`` and return True.  A ``build`` that
      raises leaves no marker, so the next call raises as above.

    The marker's leading underscore keeps it out of parquet listings,
    so ``loc`` may itself be the parquet dir ``build`` writes."""
    marker = os.path.join(loc, "_STANDING")
    if os.path.exists(marker):
        return False
    if os.path.isdir(loc) and os.listdir(loc):
        raise RuntimeError(
            f"{loc} holds a half-written standing artifact (files but "
            "no _STANDING marker); point at a fresh directory")
    build()
    os.makedirs(loc, exist_ok=True)
    open(marker, "w").close()
    STANDING_BUILT.append(loc)
    return True


# The tombstone set of a standing index (PPJoin prefix, MinHash band,
# substring gram, media chunk, IVF cell): the ids deleted from the
# index but still in its files, one ``id bigint`` column in a parquet
# dir inside the index dir ``loc``.  Probes anti-join it; a rebuild or
# a compaction folds it into the index files and drops it.
_TOMBS = "tombstones.parquet"
_TOMBS_OLD = "tombstones_old.parquet"
_TOMBS_STAGING = "tombstones_staging.parquet"


def append_tombstones(ids: DataFrame, id_col: str, loc: str) -> int:
    """Delete the ids in ``ids[id_col]`` from the standing index in
    ``loc`` without rewriting it; returns the number of ids appended.
    The ids are checkpointed first, so the count is of the rows
    written even when ``ids`` is non-deterministic."""
    out = (ids.select(F.col(id_col).cast("long").alias("id"))
              .localCheckpoint())
    out.write.mode("append").parquet(os.path.join(loc, _TOMBS))
    return out.count()


def read_tombstones(spark: SparkSession, loc: str) -> DataFrame | None:
    """The distinct ids of the tombstone set in ``loc``, or None when
    there is none: a probe of an index with no outstanding deletes
    pays two directory checks and nothing else.

    ``clear_tombstones`` swaps a new set in by two renames (set → old,
    staging → set).  A crash between them leaves only the old set, so
    when the set is missing the old one is renamed back.  The old set
    is a superset of the staged survivors: a crash never brings a
    deleted id back, and an id the interrupted clear meant to re-admit
    is cleared again when its append is retried."""
    path = os.path.join(loc, _TOMBS)
    if not os.path.isdir(path):
        old = os.path.join(loc, _TOMBS_OLD)
        if not os.path.isdir(old):
            return None
        try:
            os.rename(old, path)
        except OSError:
            # a concurrent reader's repair won the rename
            if not os.path.isdir(path):
                raise
    return spark.read.parquet(path).distinct()


def clear_tombstones(ids: DataFrame, loc: str) -> None:
    """Remove the ids in ``ids.id`` from the tombstone set in ``loc``:
    a deleted id that an append re-ingests is served again.

    The survivors are staged beside the set and swapped in by renames,
    so the rewrite never reads the files it replaces and the ids never
    pass through the driver; an emptied set is dropped, which restores
    the probe's fast path.  Leftovers of an earlier swap that committed
    are removed first, so they never block this one."""
    tombs = read_tombstones(ids.sparkSession, loc)
    if tombs is None:
        return
    path, old, staging = (os.path.join(loc, n)
                          for n in (_TOMBS, _TOMBS_OLD, _TOMBS_STAGING))
    shutil.rmtree(old, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    # no forced broadcast: a mass re-ingest can be arbitrarily large,
    # and AQE picks broadcast when it fits
    survivors = tombs.join(ids.select(F.col("id").cast("long")), "id",
                           "left_anti")
    n_surv = survivors.count()
    if n_surv == tombs.count():
        return
    if n_surv == 0:
        drop_tombstones(loc)
        return
    # one file for the takedown-sized common case; natural partitioning
    # above that so a mass purge never funnels through a single task
    staged = survivors if n_surv > 1_000_000 else survivors.coalesce(1)
    staged.write.parquet(staging)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


def drop_tombstones(loc: str) -> None:
    """Remove the tombstone set in ``loc`` and any leftovers of an
    interrupted swap (a rebuild or compaction has folded them in)."""
    for name in (_TOMBS, _TOMBS_OLD, _TOMBS_STAGING):
        shutil.rmtree(os.path.join(loc, name), ignore_errors=True)


def compact(spark: SparkSession, path: str,
            target_file_bytes: int = 128 * 1024 * 1024,
            sort_by: Sequence[str] | None = None) -> int:
    """Small-file compaction — the unglamorous operator every 100 TB
    lake needs: streaming sinks and fine-grained partitions produce
    thousands of KB-sized files whose per-file open/footer cost
    dominates scans.  Rewrites ``path`` into ``ceil(bytes/target)``
    files (optionally re-sorted for stats selectivity) and returns the
    new file count.  The rewrite stages into ``path + '.compact'``
    then swaps, so a failed job never leaves ``path`` half-written.
    Sizing and the swap go through the Hadoop FileSystem API (like
    the other lifecycle helpers here), so the op works on HDFS/S3
    paths, not just the local filesystem.
    """
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    total = 0
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        if st.getPath().getName().endswith(".parquet"):
            total += st.getLen()
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(path)
    if sort_by:
        df = df.repartitionByRange(n_files, *sort_by) \
               .sortWithinPartitions(*sort_by)
    else:
        df = df.coalesce(n_files)
    tmp_str = path.rstrip("/") + ".compact"
    df.write.mode("overwrite").parquet(tmp_str)
    fs.delete(root, True)
    if not fs.rename(jvm.org.apache.hadoop.fs.Path(tmp_str), root):
        raise RuntimeError(
            f"compact swap failed: could not rename {tmp_str} -> {path}")
    return n_files


def write_bucketed(df: DataFrame, table: str, bucket_cols: Sequence[str],
                   num_buckets: int = 32,
                   sort_by: Sequence[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Bucketed managed table: co-locates rows by hash(bucket_cols) so
    repeated equi-joins/aggs on those keys skip the shuffle entirely —
    the bulk-synchronous answer to the reference's per-key index
    lookups (N+1 pattern, storage.scala:390-391).  Requires
    ``saveAsTable`` (bucket metadata lives in the session catalog).
    """
    # One shuffle on the bucket key BEFORE the write so each task holds
    # exactly one bucket's rows: without it every map task writes one
    # file per bucket it sees (tasks x buckets files — measured 512
    # files / 1.2 MiB for the 32-task x 16-bucket standing dedup index,
    # and every probe re-paid 512 parquet-footer opens).  With it the
    # table is num_buckets files of num_buckets times the size
    # (guide: small files hurt twice — listing/planning AND per-file
    # open; aim for fewer, larger files).  repartition uses the same
    # Murmur3 hash as the bucket spec, so task i holds bucket i only.
    w = (df.repartition(num_buckets, *[F.col(c) for c in bucket_cols])
           .write.format("parquet").mode(mode)
           .bucketBy(num_buckets, *bucket_cols))
    if sort_by:
        w = w.sortBy(*sort_by)
    w.saveAsTable(table)


def _zorder_value(cols: Sequence[Column], bits: int = 16) -> Column:
    """Interleave the bits of pre-normalized [0, 2^bits) integer
    columns into one Morton (Z-curve) key — pure JVM shift/or
    expressions, codegen-friendly."""
    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, c in enumerate(cols):
            bit = F.shiftrightunsigned(c.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + i))
    return z


def write_zordered(df: DataFrame, path: str, cols: Sequence[str],
                   n_files: int = 16, bits: int = 16) -> None:
    """Z-order layout: cluster rows along a Morton space-filling curve
    over ``cols`` so parquet min/max stats stay selective for range
    filters on ANY of the columns — multi-dimensional data skipping
    where a plain sort helps only its leading column.

    Each column min/max-normalizes to a ``bits``-bit integer via a
    1-row broadcast aggregate (no driver round-trip), bits interleave
    into the Morton key, and ``repartitionByRange`` + per-file sort on
    that key give every output file a tight bounding box in
    (col1, col2, ...) space.  At 100 TB this is the difference between
    a box query touching a handful of row groups and touching all of
    them; the write itself is one range-partitioned shuffle, the same
    cost as any global sort.
    """
    if len(cols) < 2:
        raise ValueError("z-ordering needs >= 2 columns; "
                         "use write_table(sort_by=...) for one")
    aggs = []
    for c in cols:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
                 F.max(F.col(c).cast("double")).alias(f"__max_{c}")]
    ranges = df.agg(*aggs)
    top = F.lit(float((1 << bits) - 1))
    normed = []
    for c in cols:
        span = F.col(f"__max_{c}") - F.col(f"__min_{c}")
        frac = F.when(span > 0,
                      (F.col(c).cast("double") - F.col(f"__min_{c}")) / span) \
                .otherwise(F.lit(0.0))
        normed.append(F.round(frac * top).cast("long"))
    out = (df.crossJoin(F.broadcast(ranges))
             .withColumn("__z", _zorder_value(normed, bits))
             .repartitionByRange(n_files, "__z")
             .sortWithinPartitions("__z")
             .drop("__z", *[f"__{m}_{c}" for c in cols
                            for m in ("min", "max")]))
    out.write.mode("overwrite").parquet(path)


def write_log_rolled(df: DataFrame, path: str, order_col: str,
                     max_partition_rows: int = 5_000_000,
                     fmt: str = "parquet") -> None:
    """Partition-rolling event-log writer — the reference's
    ``maxPartitionSize = 5000000L`` log layout (log/package.scala:59:
    the Akka-persistence journal rolls to a new partition every N
    sequence numbers) done as a batch layout decision.

    Rows are enumerated in ``order_col`` order with the two-pass dense
    index (no single-task global window) and land in hive partition
    ``log_part = seq_no // max_partition_rows``; within a file they
    stay sorted by ``order_col``, so a reader doing
    ``log_from(key, offset)`` prunes to ``offset // N ..`` partitions
    at the directory level and row-group min/max finish the job —
    the same O(1)-seek contract the reference's partitioned log gives
    its resumable readers.
    """
    from nosql_join_stream_spark.operators.combinators import _with_pos

    if max_partition_rows < 1:
        raise ValueError(
            f"max_partition_rows must be >= 1, got {max_partition_rows}")
    indexed = _with_pos(df, [order_col], "__seq")
    rolled = (indexed.withColumn(
        "log_part", ((F.col("__seq") - 1) / max_partition_rows)
        .cast("long")).drop("__seq"))
    (rolled.repartition("log_part")
           .sortWithinPartitions(order_col)
           .write.mode("overwrite")
           .partitionBy("log_part").format(fmt).save(path))


# ---------------------------------------------------------------------------
# CDC folds: SCD2 history, keep-latest compaction, delete markers
# ---------------------------------------------------------------------------

_KB = "__kb"  # hive bucket column of the keyed snapshot table


def scd2_history(df: DataFrame, key_col: str,
                 order_by: Sequence[str], tracked_col: str,
                 weight_col: str | None = None) -> DataFrame:
    """Slowly-Changing-Dimension TYPE 2 history from an event/CDC
    stream: per key, collapse consecutive runs of the same
    ``tracked_col`` value into validity intervals —
    ``(key, tracked, valid_from, valid_to, is_current, n_events)``,
    half-open ``[valid_from, valid_to)``, ``valid_to`` NULL on the
    current row.  The warehouse-dimension twin of
    :func:`latest_per_key` (which keeps only the final state): SCD2
    keeps every state WITH its tenure, the shape point-in-time joins
    ("what was the user's tier when this order landed") need.

    Scale shape: change-point detection (lag), run numbering
    (conditional running sum), and the interval chain (lead) are all
    windows PARTITIONED BY the key — they parallelize across keys and
    share one exchange+sort (identical window spec, reused by
    Catalyst); the run collapse is a hash aggregate on
    (key, run).  No global window, no driver path; a hot key costs
    its own sort only.  ``order_by`` must be a deterministic total
    order within a key (e.g. ``["ts", "event_id"]``) or run
    boundaries are replay-unstable.

    ``weight_col``: count each row as N events instead of 1 — the
    hook :func:`scd2_apply_batch` uses to fold a whole prior interval
    back in as one pseudo-event without losing its tally.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.col(c) for c in order_by])
    # NULL-SAFE change detection (r11 advisor): plain `lag != col` is
    # NULL on a value→NULL transition (treated as no-change, merging
    # NULL rows into the prior run), and `lag IS NULL` marks every row
    # of a NULL→NULL run as a fresh boundary.  eqNullSafe gives NULL
    # runs the same collapse semantics as any other value (SQL twin:
    # `prev IS DISTINCT FROM tracked`).
    changed = ~F.lag(tracked_col).over(w).eqNullSafe(F.col(tracked_col))
    n = (F.sum(weight_col) if weight_col is not None
         else F.count("*")).alias("n_events")
    runs = (df.withColumn("__grp",
                          F.sum(F.when(changed, 1).otherwise(0)).over(w))
            .groupBy(key_col, tracked_col, "__grp")
            .agg(F.min(order_by[0]).alias("valid_from"), n))
    w_iv = Window.partitionBy(key_col).orderBy("__grp")
    return (runs
            .withColumn("valid_to", F.lead("valid_from").over(w_iv))
            .withColumn("is_current", F.col("valid_to").isNull())
            .drop("__grp"))


def scd2_apply_batch(history: DataFrame, batch: DataFrame, key_col: str,
                     order_by: Sequence[str],
                     tracked_col: str) -> DataFrame:
    """INCREMENTAL SCD2 fold — the daily-job twin of
    :func:`scd2_history`: merge a batch of new events into an
    existing SCD2 table touching ONLY the batch's keys.  Closed
    intervals are never recomputed; per touched key, the CURRENT row
    re-enters the run collapse as one pseudo-event at its own
    ``valid_from`` weighted by its ``n_events`` (so tallies survive),
    unioned with the batch — if the batch continues the same tracked
    value the current interval extends, if it changes value the
    interval closes at the change point, and unseen keys open fresh
    history.  Result == ``scd2_history`` over the full event log
    (pinned by test AND by the registry oracle — the equality IS the
    incremental-correctness claim, the resolve_incremental
    discipline).

    Cost: O(|batch| + touched keys' current rows) — history size
    never enters; the anti/semi key splits are hash joins on the
    batch's (small) key set.  PRECONDITION, enforced in-plan: every
    batch event is at-or-after its key's current ``valid_from`` (true
    whenever batches apply in change-log order); a late event older
    than the current interval would need closed-history repair, which
    is a rebuild, not a fold — the fold RAISES on it instead of
    silently mis-collapsing (the guard lives inside the surviving
    timestamp column so Catalyst can't prune it — the r10 dead-guard
    lesson).
    """
    cols = [key_col, tracked_col, "valid_from", "valid_to",
            "is_current", "n_events"]
    touched = batch.select(key_col).distinct()
    untouched = history.join(touched, key_col, "left_anti").select(*cols)
    h_t = history.join(touched, key_col, "left_semi")
    closed = h_t.filter(~F.col("is_current")).select(*cols)
    ts_col, *tie = order_by
    # The pseudo-event must sort BEFORE every batch event at the same
    # timestamp.  An explicit rank column does that without inventing
    # tie-column sentinel VALUES: a `lit(-1)` sentinel (r11 advisor)
    # type-coerced string/timestamp tie columns through unionByName —
    # silently reordering same-ts batch events — and collided with
    # legitimate tie values below it.  Tie columns keep their real
    # type; the pseudo-event carries typed NULLs there (never compared:
    # __cur_rank separates it first, and it is unique per key).
    batch_types = dict(batch.dtypes)
    pseudo = (h_t.filter(F.col("is_current"))
              .select(key_col,
                      F.col("valid_from").alias(ts_col),
                      F.lit(0).alias("__cur_rank"),
                      *[F.lit(None).cast(batch_types[c]).alias(c)
                        for c in tie],
                      tracked_col,
                      F.col("n_events").alias("__w"),
                      F.lit(True).alias("__is_cur")))
    newev = batch.select(key_col, ts_col,
                         F.lit(1).alias("__cur_rank"), *tie, tracked_col,
                         F.lit(1).cast("long").alias("__w"),
                         F.lit(False).alias("__is_cur"))
    # the ordering guard rides a WINDOW over the union itself (same
    # key partitioning the collapse uses — no extra join, and no
    # second reference to the history subtree: a cur-side join here
    # plus the 3-way result union made Catalyst's relation
    # de-duplication mis-resolve the tail's window partition in one
    # observed plan — wrong rows, not an error, so the guard now
    # stays inside one frame): a batch event older than its key's
    # current valid_from raises from inside the surviving ts column.
    ts_type = dict(batch.dtypes)[ts_col]
    w_all = Window.partitionBy(key_col)
    cur_vf = F.max(F.when(F.col("__is_cur"), F.col(ts_col))).over(w_all)
    guarded_ts = F.when(
        ~F.col("__is_cur") & (F.col(ts_col) < cur_vf),
        F.raise_error(F.concat(
            F.lit("scd2_apply_batch: batch event at "),
            F.col(ts_col).cast("string"),
            F.lit(f" predates its key's current interval ({key_col}="),
            F.col(key_col).cast("string"),
            F.lit(") — closed-history repair needs a rebuild, "
                  "not a fold"))).cast(ts_type)
    ).otherwise(F.col(ts_col))
    u = (pseudo.unionByName(newev)
         .withColumn(ts_col, guarded_ts)
         .drop("__is_cur"))
    tail = scd2_history(u, key_col, [ts_col, "__cur_rank", *tie],
                        tracked_col, weight_col="__w").select(*cols)
    return untouched.unionByName(closed).unionByName(tail)


def _key_bucket(key_col: str, num_buckets: int) -> Column:
    return F.pmod(F.xxhash64(F.col(key_col)), F.lit(num_buckets)).cast("int")


def latest_per_key(df: DataFrame, key_col: str,
                   order_by: Sequence[str]) -> DataFrame:
    """Keep-latest compaction: one row per key, the maximum of
    ``order_by`` (compared in sequence, descending) — the in-memory
    form of the CDC upsert-view.  One shuffle on the key."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy(
        *[F.col(c).desc() for c in order_by])
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


def _mark_deletes(batch: DataFrame, delete_col: str | None) -> DataFrame:
    """Normalize the CDC op marker: ``__del`` true for rows that are
    DELETIONS of their key (NULL marker = not a delete), the marker
    column itself stripped so it never lands in the table."""
    if delete_col is None:
        return batch.withColumn("__del", F.lit(False))
    return (batch.withColumn(
                "__del", F.coalesce(F.col(delete_col).cast("boolean"),
                                    F.lit(False)))
                 .drop(delete_col))


def retention_expire(spark: SparkSession, path: str, partition_col: str,
                     keep_from) -> int:
    """Partition-level retention: DROP hive partitions of ``path``
    whose ``partition_col`` value sorts below ``keep_from`` — the
    other half of the lifecycle story next to :func:`compact` (a log
    that only ever grows isn't a deployment, it's a liability).

    Deleting a directory is the entire operation — no rewrite, no
    scan of surviving data, cost proportional to expired partitions
    only.  This is exactly why the log/stream sinks here partition by
    time bucket / batch id: retention becomes an O(dirs) metadata
    action.  Values compare as strings (zero-pad numeric partition
    values at write time — ``write_log_rolled`` does).  Lists and
    deletes through the Hadoop FileSystem API like every other
    lifecycle helper here, so it works on HDFS/S3 paths, not just
    the local filesystem.  Returns the number of partitions dropped.
    """
    prefix = f"{partition_col}="
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    dropped = 0
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        if name[len(prefix):] < str(keep_from):
            fs.delete(st.getPath(), True)
            dropped += 1
    return dropped


# ---------------------------------------------------------------------------
# Keyed standing table: snapshot-isolated MERGE via immutable manifests
# ---------------------------------------------------------------------------
#
# The table is hive-partitioned on __kb = hash(key) mod num_buckets,
# and the bucket dir is the MERGE unit: a merge rewrites only the
# buckets its batch touches.  It does so the way Iceberg/Delta do: data
# files are IMMUTABLE (each merge writes its buckets under a fresh
# v<N>/ dir), and a tiny numbered manifest maps each bucket to the
# version that last wrote it.  Readers resolve the highest manifest
# ONCE and read only dirs it references — a merge landing mid-query
# changes nothing they hold; publishing is one atomic rename of a new
# manifest file; rollback is deleting it.  GC drops version dirs no
# longer referenced.


def _schema_fields(df: DataFrame) -> list[dict]:
    """The manifest's schema record: ordered (name, type) pairs using
    Spark's simpleString type names — enough to detect incompatible
    type changes and to give added columns a stable position.
    ``__``-prefixed columns are merge-internal (__kb bucket, __src
    tiebreak, __del marker) and never part of the table schema."""
    return [{"name": f.name, "type": f.dataType.simpleString()}
            for f in df.schema.fields if not f.name.startswith("__")]


def _check_schema_compat(recorded: list[dict] | None,
                         batch: DataFrame, path: str) -> list[dict]:
    """Schema-evolution contract for keyed tables: a batch may ADD
    columns (appended as nullable — old rows read back NULL) and may
    OMIT columns (filled with NULL for its rows), but a same-named
    column with a different type is rejected loudly — silent cast
    drift in a standing table is a day-2 data-loss bug.  Returns the
    evolved schema record (old order, new columns appended)."""
    new = _schema_fields(batch)
    if recorded is None:  # pre-schema manifest (older table): adopt
        return new
    by_name = {f["name"]: f["type"] for f in new}
    for f in recorded:
        t = by_name.get(f["name"])
        if t is not None and t != f["type"]:
            raise ValueError(
                f"incompatible schema change for keyed table at {path}: "
                f"column {f['name']!r} is {f['type']} in the table but "
                f"{t} in the batch — evolve by ADDING columns, not "
                "retyping them")
    known = {f["name"] for f in recorded}
    return recorded + [f for f in new if f["name"] not in known]


def _manifest_dir(path: str) -> str:
    return path + "/_nsjs_manifests"


def _list_manifests(spark: SparkSession, path: str) -> list:
    jvm = spark._jvm
    d = jvm.org.apache.hadoop.fs.Path(_manifest_dir(path))
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        name = st.getPath().getName()
        if name.startswith("manifest-v") and name.endswith(".json"):
            out.append(int(name[len("manifest-v"):-len(".json")]))
    return sorted(out)


class SnapshotConflict(RuntimeError):
    """A concurrent writer committed the manifest version this merge
    was about to publish — the optimistic-concurrency signal
    :func:`upsert_keyed_snapshot` retries on (rebase + re-merge)."""


def _write_manifest(spark: SparkSession, path: str, version: int,
                    key_col: str, num_buckets: int,
                    buckets: dict, schema: list[dict] | None = None) -> None:
    """Publish manifest v<version>: write to a tmp name, fs.rename to
    the final (previously-absent) name — the atomic commit point.
    Hadoop rename does not overwrite an existing destination, so two
    writers racing to the same version number produce exactly one
    winner; the loser sees rename() == False and raises
    :class:`SnapshotConflict`."""
    import json

    jvm = spark._jvm
    final = jvm.org.apache.hadoop.fs.Path(
        f"{_manifest_dir(path)}/manifest-v{version}.json")
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{_manifest_dir(path)}/.manifest-v{version}.json.tmp")
    fs = final.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    doc = {"key_col": key_col, "num_buckets": num_buckets,
           "version": version,
           "buckets": [{"kb": int(k), "v": v}
                       for k, v in sorted(buckets.items())]}
    if schema is not None:
        doc["schema"] = schema
    out.write(bytearray(json.dumps(doc).encode()))
    out.close()
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise SnapshotConflict(
            f"manifest publish failed: v{version} already exists "
            "(concurrent writer)")


def _read_manifest(spark: SparkSession, path: str,
                   version: int | None = None):
    """A committed manifest as (version, key_col, num_buckets,
    {kb: version_dir}, schema_fields|None) — the latest, or an
    explicit ``version`` (time travel); None if never written,
    ValueError for a version that was never committed or already
    GC'd."""
    import json

    versions = _list_manifests(spark, path)
    if not versions:
        return None
    if version is None:
        v = versions[-1]
    elif version in versions:
        v = version
    else:
        raise ValueError(
            f"no committed manifest v{version} at {path} "
            f"(available: {versions} — GC'd or never written)")
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(
        f"{_manifest_dir(path)}/manifest-v{v}.json")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(p)
    # py4j cannot fill a Python buffer in place (byte[] args copy) —
    # use a RETURNING read
    data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
    stream.close()
    m = json.loads(bytes(data).decode())
    return (m["version"], m["key_col"], m["num_buckets"],
            {int(b["kb"]): b["v"] for b in m["buckets"]},
            m.get("schema"))


def write_keyed_snapshot(df: DataFrame, path: str, key_col: str,
                         num_buckets: int = 32) -> int:
    """Bootstrap a versioned keyed table (version 1).  ``df`` must be
    one-row-per-key (:func:`latest_per_key`).  Returns the version.

    The manifest's bucket list is the written dir's listing, so the
    source is scanned exactly once, by the write — a read-once or
    non-deterministic upstream (kafka batch, ``.sample()``) cannot
    diverge between the data written and the buckets the manifest
    claims.  ``num_buckets`` is fixed for the table's life; it should
    scale with table size until one bucket is a comfortable rewrite
    quantum (e.g. a few GB)."""
    spark = df.sparkSession
    (df.withColumn(_KB, _key_bucket(key_col, num_buckets))
     .repartition(_KB)
     .sortWithinPartitions(key_col)
     .write.mode("overwrite").partitionBy(_KB).parquet(path + "/v1"))
    _write_manifest(spark, path, 1, key_col, num_buckets,
                    {kb: "v1" for kb in _written_buckets(spark, path + "/v1")},
                    schema=_schema_fields(df))
    return 1


def _written_buckets(spark: SparkSession, data_dir: str) -> set[int]:
    """The buckets a write actually produced: its ``__kb=<b>`` dirs
    (one FS listing, metadata cost).  A bucket with no rows has no
    dir."""
    jvm = spark._jvm
    d = jvm.org.apache.hadoop.fs.Path(data_dir)
    fs = d.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(d):
        return set()
    return {int(st.getPath().getName()[len(_KB) + 1:])
            for st in fs.listStatus(d)
            if st.getPath().getName().startswith(_KB + "=")}


def _read_buckets(spark: SparkSession, path: str, buckets: dict,
                  kbs, schema: list[dict] | None) -> DataFrame | None:
    """The rows of the buckets ``kbs`` as the manifest map ``buckets``
    ({kb: version dir}) places them: one parquet scan per version dir,
    reading only those ``__kb=<b>`` dirs, unioned by name.  Buckets
    absent from the map (all their keys deleted) contribute nothing;
    None when no listed bucket is in it.  Columns follow the manifest
    ``schema`` (``__kb`` last): buckets written before a
    schema-evolving merge lack its added columns, and a column can
    live in NO part file read here yet belong to the schema — both
    read back as typed NULLs."""
    by_ver: dict[str, list[int]] = {}
    for kb in kbs:
        if kb in buckets:
            by_ver.setdefault(buckets[kb], []).append(kb)
    out = None
    for ver, ver_kbs in sorted(by_ver.items()):
        base = f"{path}/{ver}"
        part = spark.read.option("basePath", base).parquet(
            *[f"{base}/{_KB}={kb}" for kb in sorted(ver_kbs)])
        out = (part if out is None
               else out.unionByName(part, allowMissingColumns=True))
    if out is None or schema is None:
        return out
    have = set(out.columns)
    return out.select(*[F.col(f["name"]) if f["name"] in have
                        else F.lit(None).cast(f["type"]).alias(f["name"])
                        for f in schema], _KB)


def read_keyed_snapshot(spark: SparkSession, path: str,
                        version: int | None = None) -> DataFrame:
    """Read a committed snapshot — the latest, or ``version`` for
    TIME TRAVEL (any manifest still inside the GC retention window):
    reproduce the exact table a training run saw, diff two ingest
    days, or audit a bad merge.  The manifest is resolved EAGERLY —
    the returned DataFrame keeps reading exactly these (immutable)
    files even if merges land while the query runs."""
    man = _read_manifest(spark, path, version)
    if man is None:
        raise ValueError(f"no committed snapshot at {path}")
    _, _, _, buckets, schema = man
    out = _read_buckets(spark, path, buckets, buckets.keys(), schema)
    if out is not None:
        return out.drop(_KB)
    # every key deleted: an EMPTY snapshot is still a snapshot —
    # reconstruct the frame from the manifest's recorded schema
    if schema is None:
        raise ValueError(
            f"snapshot at {path} is empty and predates schema "
            "recording; nothing to read")
    ddl = ", ".join(f"`{f['name']}` {f['type']}" for f in schema)
    return spark.createDataFrame([], ddl)


def keyed_snapshot_lookup(spark: SparkSession, path: str, keys,
                          version: int | None = None) -> DataFrame:
    """POINT LOOKUPS — the distributed answer to the reference's
    per-key GET (the N+1 ``find(key)`` pattern, storage.scala:390-391)
    with snapshot isolation and time travel: resolve the manifest
    (latest or ``version``), hash each key to its bucket with the SAME
    Spark expression that wrote the layout (one tiny local job over
    |keys| rows), and read ONLY those buckets' immutable
    ``v<N>/__kb=<b>`` dirs — cost O(|keys| x bucket size), never a
    table scan.  Bucket dirs are sorted on the key at write time, so
    the pushed key filter's row-group stats skip within the bucket
    too.  A deleted or never-written key returns no row.

    ``keys``: a Python sequence of key values (bounded by contract —
    point lookups, not a join; for a large probe side join against
    :func:`read_keyed_snapshot`)."""
    man = _read_manifest(spark, path, version)
    if man is None:
        raise ValueError(f"no committed snapshot at {path}")
    _, key_col, nb, buckets, schema = man
    key_vals = list(keys)
    kbs = []
    if key_vals:
        ktype = next((f["type"] for f in (schema or [])
                      if f["name"] == key_col), "bigint")
        kdf = spark.createDataFrame([(k,) for k in key_vals],
                                    f"`{key_col}` {ktype}")
        kbs = sorted({r.b for r in kdf.select(
            _key_bucket(key_col, int(nb)).alias("b")).distinct().collect()})
    out = _read_buckets(spark, path, buckets, kbs, schema)
    if out is None:
        return read_keyed_snapshot(spark, path, version).limit(0)
    return out.drop(_KB).filter(F.col(key_col).isin(key_vals))


def upsert_keyed_snapshot(spark: SparkSession, path: str, batch: DataFrame,
                          key_col: str, order_by: Sequence[str],
                          max_retries: int = 3,
                          delete_col: str | None = None) -> dict:
    """Snapshot-isolated CDC MERGE: upsert ``batch`` into the table at
    ``path``, keeping per key the row with the greatest ``order_by``
    (sequence/event-time ordering; ties prefer the incoming batch) —
    the physical counterpart of the ``latest_event_per_user`` upsert
    VIEW, compaction moved from every read to each write.

    Scale shape: the batch is localCheckpointed ONCE (safe for
    read-once ingest sources); its touched bucket list (bounded by the
    table's bucket count, never rows) limits the standing read to exactly
    those bucket dirs; one keep-latest window shuffles only
    touched-buckets + batch, and the result is written under a NEW
    immutable ``v<N>-<uuid>/`` dir.  Untouched buckets stay where the
    manifest already points.  Cost tracks batch locality, not table
    size.  The merge becomes visible only at the atomic manifest
    publish — readers mid-flight keep their resolved snapshot, a
    crash before publish leaves the table exactly at v<N-1> (the
    orphan dir is GC'd), and rollback is deleting one manifest file.

    **Concurrent writers** are handled with optimistic concurrency,
    the public-table-format commit loop: the manifest rename is the
    one atomic point, and a loser whose target version was taken by
    a concurrent merge REBASES — re-reads the now-latest manifest,
    re-merges its (checkpointed) batch against the winner's buckets,
    and attempts the next version — up to ``max_retries`` times
    before raising :class:`SnapshotConflict` with the table
    uncorrupted (its orphan data dirs are invisible to readers and
    swept by GC).

    **Schema evolution**: a batch may add columns (old rows read back
    as typed NULLs, old snapshots time-travel unchanged) or omit
    columns (filled NULL); retyping a column raises.  The evolved
    schema is recorded in the manifest.

    **Deletes**: ``delete_col`` marks CDC DELETE rows — a key whose
    latest (by ``order_by``) op is a delete is removed; a bucket
    emptied by deletions simply leaves the new manifest (older
    snapshots still time-travel to it).  Delete ordering is
    STATEMENT-LEVEL, the contract of public table formats' MERGE:
    within one merge a delete competes with upserts by ``order_by``
    (stale deletes lose), but the table keeps no deleted-version
    memory — an out-of-order older upsert in a LATER merge resurrects
    the key.  Apply batches in change-log order (what every CDC
    source emits); pinned by the sequential-fold property test.

    Returns ``{"version": v, "buckets_touched": k}``.
    """
    batch = _mark_deletes(batch, delete_col)
    b = None
    last_err: SnapshotConflict | None = None
    for _ in range(max_retries + 1):
        man = _read_manifest(spark, path)
        if man is None:
            raise ValueError(f"no committed snapshot at {path}; "
                             "write_keyed_snapshot first")
        version, m_key, num_buckets, buckets, m_schema = man
        if m_key != key_col:
            raise ValueError(f"table keyed on {m_key!r}, not {key_col!r}")
        schema = _check_schema_compat(m_schema, batch, path)
        if b is None:  # checkpoint once; rebase reuses the materialization
            b = (batch.withColumn(_KB, _key_bucket(key_col, num_buckets))
                      .withColumn("__src", F.lit(1))
                      .localCheckpoint(eager=False))  # collect materializes
            touched = [r[_KB] for r in b.select(_KB).distinct().collect()]
            if not touched:
                return {"version": version, "buckets_touched": 0}
        existing = _read_buckets(spark, path, buckets, touched, m_schema)
        merged = b
        if existing is not None:
            merged = merged.unionByName(
                existing.withColumn("__src", F.lit(0))
                        .withColumn("__del", F.lit(False)),
                allowMissingColumns=True)
        w = Window.partitionBy(key_col).orderBy(
            *[F.col(c).desc() for c in order_by], F.col("__src").desc())
        latest = (merged.withColumn("__rn", F.row_number().over(w))
                  .filter((F.col("__rn") == 1) & ~F.col("__del"))
                  .drop("__rn", "__src", "__del"))
        new_ver = version + 1
        # the data dir gets a UNIQUE suffix (manifests reference dirs
        # by name, so any name works): two writers racing to the same
        # version must not write the same path — the loser's
        # mode("overwrite") would destroy data the WINNER's committed
        # manifest references.  The loser's dir stays an orphan and
        # GC sweeps it.
        ver_dir = f"v{new_ver}-{uuid.uuid4().hex[:8]}"
        (latest.repartition(_KB)
         .sortWithinPartitions(key_col)
         .write.mode("overwrite").partitionBy(_KB)
         .parquet(f"{path}/{ver_dir}"))
        # the bucket map reflects what the merge actually WROTE: a
        # touched bucket whose keys were all deleted produces no
        # partition dir and leaves the manifest
        written = _written_buckets(spark, f"{path}/{ver_dir}")
        new_map = dict(buckets)
        for kb in touched:
            if kb in written:
                new_map[kb] = ver_dir
            else:
                new_map.pop(kb, None)
        try:
            _write_manifest(spark, path, new_ver, key_col, num_buckets,
                            new_map, schema=schema)
            return {"version": new_ver, "buckets_touched": len(touched)}
        except SnapshotConflict as e:
            # a concurrent merge won v<new_ver>; our data dir is an
            # orphan (no manifest references it) — GC sweeps it.
            # Rebase: loop re-reads the winner's manifest and
            # re-merges against ITS buckets.
            last_err = e
    raise SnapshotConflict(
        f"upsert_keyed_snapshot at {path} lost the commit race "
        f"{max_retries + 1} times; table is uncorrupted (last: {last_err})")


def gc_keyed_snapshots(spark: SparkSession, path: str,
                       keep_manifests: int = 7) -> int:
    """Drop version dirs not referenced by the ``keep_manifests``
    newest manifests (and the older manifest files themselves).
    Returns the number of version dirs removed.  Run on a schedule,
    with ``keep_manifests`` sized to the longest query/reader you
    allow — the snapshot-isolation retention window.  The default (7)
    keeps a real time-travel window; ``keep_manifests=1`` collapses
    the table to its latest snapshot immediately.

    Safe to run concurrently with a merge: only version dirs whose
    number is <= the newest COMMITTED manifest are candidates.  An
    in-flight :func:`upsert_keyed_snapshot` writes its ``v<N+1>/``
    data files BEFORE publishing manifest v<N+1>, so without that
    guard a scheduled GC landing in the gap would delete the new
    version's files and the subsequent publish would commit a
    snapshot pointing at deleted data."""
    versions = _list_manifests(spark, path)
    if not versions:
        return 0
    committed = versions[-1]
    keep, drop = versions[-keep_manifests:], versions[:-keep_manifests]
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration())
    referenced = set()
    for v in keep:
        referenced |= set(_read_manifest(spark, path, v)[3].values())
    removed = 0
    for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(path)):
        name = st.getPath().getName()
        m = re.fullmatch(r"v(\d+)(?:-[0-9a-f]+)?", name)
        # the version-number guard protects an IN-FLIGHT merge: its
        # v<N+1>-*/ data files exist before its manifest does, and a
        # GC landing in that gap must not delete them (the subsequent
        # publish would commit a snapshot over missing data)
        if (st.isDirectory() and m is not None and name not in referenced
                and int(m.group(1)) <= committed):
            fs.delete(st.getPath(), True)
            removed += 1
    for v in drop:
        fs.delete(jvm.org.apache.hadoop.fs.Path(
            f"{_manifest_dir(path)}/manifest-v{v}.json"), False)
    return removed
