"""SparkSession factory.

Replaces the reference's user-supplied ``Context`` (ExecutorService /
Rx scheduler / Akka dispatcher — reference join/package.scala:40,
storage.scala:620-622): on Spark, scheduling belongs to the cluster.

Defaults are tuned for local[N] testing but are the same knobs that
matter on a 1000-executor cluster:
- AQE on (runtime re-plan, skew-join splitting, partition coalescing),
- shuffle partitions sized to cores locally (cluster: ~2-3x total cores
  or AQE-advisory driven),
- Arrow enabled so the Pandas-UDF slow path is at least vectorized,
- UTC session timezone so results compare bit-for-bit with DuckDB.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
import warnings

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

_STREAM_CKPT_ROOT: list[str] = []


def _stream_ckpt_root() -> str:
    """Session-default root for streaming checkpoints WITHOUT an
    explicit location (the memory-sink AvailableNow drains).  Spark's
    fallback is a java.io.tmpdir temp dir — on this sandbox a disk
    with documented IO-pressure phases, and the offset/commit-log
    writes land on it once per micro-batch per query.  Point the
    default at tmpfs when available (each drain uses a fresh
    query name, so no checkpoint is ever reused across invocations —
    the exactly-once contract within a run is unchanged, and nothing
    outlives the process: the root is uuid-keyed and rmtree'd at
    exit).  NSJS_STREAM_CKPT_DIR overrides — a production deployment
    points it at durable shared storage, where checkpoint survival is
    the recovery contract."""
    if not _STREAM_CKPT_ROOT:
        base = os.environ.get("NSJS_STREAM_CKPT_DIR") or (
            "/dev/shm" if os.path.isdir("/dev/shm")
            else tempfile.gettempdir())
        root = os.path.join(base, f"nsjs_stream_ckpt_{uuid.uuid4().hex[:12]}")
        _STREAM_CKPT_ROOT.append(root)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return _STREAM_CKPT_ROOT[0]


def _driver_mem() -> str:
    """Default driver heap: a third of the host's physical memory, in
    whole GB, between 1g and 16g.  In local mode the driver JVM is the
    whole cluster, so a fixed 16g on a 15 GB host lets a second session
    started beside the first (a gate run beside the test suite) grow
    both heaps past the host and get OOM-killed."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 3 // 2**30))}g"


def get_session(app_name: str = "nosql_join_stream_spark",
                cpus: str | int | None = None,
                shuffle_partitions: int | None = None,
                extra_conf: dict | None = None) -> SparkSession:
    """Build (or fetch) the singleton SparkSession.

    ``local[cpus]`` single-JVM for tests; on a real cluster the master
    URL comes from spark-submit and these conf defaults still apply.
    """
    cpus = str(cpus or DEFAULT_CPUS)
    if cpus.isdigit():
        n_cpus = int(cpus)
    elif cpus == "*":
        # 'local[*]' semantics: all cores — size confs from the real
        # count instead of silently falling back to 32 (r12 advisor).
        n_cpus = os.cpu_count() or 32
    else:
        warnings.warn(f"get_session: non-numeric cpus={cpus!r}; sizing "
                      "shuffle/AQE confs for 32 cores", stacklevel=2)
        n_cpus = 32
    if shuffle_partitions is None:
        shuffle_partitions = max(n_cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Reduce-side parallelism is AQE's to choose, bounded ABOVE by
        # initialPartitionNum, not by the static shuffle.partitions:
        # small shuffles still coalesce to ~parallelism, but a shuffle
        # whose map output is 10-100x the advisory size fans out to up
        # to 8x cores instead of spilling through a fixed 32 — the
        # superlinearity SCALING probe r41 measured on the CC-bearing
        # dedup family at 10x (per-partition sort/spill pressure).  On
        # a real cluster this is the same policy: initial high, AQE
        # sizes the actual reducer count from runtime statistics.
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(max(n_cpus * 8, 64)))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalesce floor: with the 1m default, a CPU-heavy
        # post-shuffle stage over a small-bytes shuffle (array_
        # intersect verify, per-row text kernels) coalesces to 2-4
        # tasks and serializes on a 32-core machine — measured 2x on
        # retrieval_eval_metrics / text_repetition_filter at sf0.1.
        # 64k keeps tiny-shuffle stages wide enough to use the
        # machine; on a production cluster shuffles are GB-scale and
        # far above either floor, so this only changes the small-
        # input regime (scale-adaptive: a floor, not a count).
        # Env-overridable for A/B and cluster profiles.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
                os.environ.get("NSJS_AQE_MIN_PARTITION_SIZE", "64k"))
        # Worker spawn robustness: the connect-back handshake between
        # the JVM and a freshly forked Python worker defaults to a 15 s
        # socket timeout (spark.python.authenticate.socketTimeout ->
        # SPARK_AUTH_SOCKET_TIMEOUT).  On a fully saturated local[32]
        # box a new worker can be descheduled past that and the whole
        # query dies with "Python worker failed to connect back"
        # (observed once in a 35-min full-registry bench, in a
        # streaming source's PythonStreamingSourceRunner init).  60 s
        # changes nothing when healthy and absorbs scheduler stalls.
        .config("spark.python.authenticate.socketTimeout", "60s")
        .config("spark.sql.streaming.checkpointLocation",
                _stream_ckpt_root())
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.ts may ship as TIMESTAMP(NANOS), which Spark rejects
        # unless read as int64; catalog.load_table restores TIMESTAMP.
        # Set here, once, so no read path mutates session conf mid-run.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", _driver_mem()))
    )
    active = SparkSession.getActiveSession()
    if active is None:
        # master only applies when we are the one creating the JVM.
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if active is not None:
        # getOrCreate on a live session applies only runtime SQL confs;
        # static ones (master, driver memory) are silently kept from the
        # session's birth.  Apply what we legally can and WARN about the
        # rest, so a long-lived harness that built the session elsewhere
        # doesn't invisibly run with stale reducer caps (r12 advisor).
        desired = {
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum":
                str(max(n_cpus * 8, 64)),
            "spark.sql.streaming.checkpointLocation": _stream_ckpt_root(),
            "spark.sql.legacy.parquet.nanosAsLong": "true",
            **{k: str(v) for k, v in (extra_conf or {}).items()},
        }
        stale = []
        for k, v in desired.items():
            try:
                if spark.conf.get(k, None) != v:
                    spark.conf.set(k, v)
            except Exception:
                stale.append(k)
        if stale:
            warnings.warn(
                "get_session: reusing an existing SparkSession; these "
                f"confs could not be applied and keep their old values: "
                f"{stale}", stacklevel=2)
    spark.sparkContext.setLogLevel("WARN")
    return spark
