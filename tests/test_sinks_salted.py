"""Sinks (reference S10 — test-only there) and the salted skew join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nosql_join_stream_spark.operators.join import salted_join
from nosql_join_stream_spark.sinks import write_bucketed, write_table


def test_salted_join_equals_plain_join(engine):
    fact = engine.table("lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_linenumber", "l_quantity")
    dim = engine.table("orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_custkey")
    salted = salted_join(fact, dim, on="orderkey", num_salts=8)
    plain = fact.join(dim, "orderkey")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_left_anti(engine):
    fact = engine.table("lineitem").select(
        F.col("l_orderkey").alias("orderkey"))
    dim = (engine.table("orders")
           .filter("o_orderkey % 2 = 0")
           .select(F.col("o_orderkey").alias("orderkey")))
    salted = salted_join(fact, dim, on="orderkey", num_salts=4, how="left_anti")
    plain = fact.join(dim, "orderkey", "left_anti")
    assert salted.count() == plain.count()


def test_salted_join_rejects_right_outer(engine):
    df = engine.table("orders")
    import pytest
    with pytest.raises(ValueError):
        salted_join(df, df, on="o_orderkey", how="right")
    with pytest.raises(ValueError, match="num_salts"):
        salted_join(df, df, on="o_orderkey", num_salts=0)
    with pytest.raises(ValueError, match="num_salts"):
        salted_join(df, df, on="o_orderkey", num_salts="many")


def test_auto_salts_sized_by_hot_key_share(engine, spark):
    """num_salts='auto' reads the skew, not a constant: a key holding
    ~90% of the sampled rows gets ≈ 0.9 × shuffle-parallelism salts;
    a uniform key distribution degenerates to 1 (no replication)."""
    from nosql_join_stream_spark.operators.join import _auto_num_salts

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    skewed = spark.range(10_000).select(
        F.when(F.col("id") % 10 != 9, F.lit(7))
         .otherwise(F.col("id")).alias("k"))
    n = _auto_num_salts(skewed, ["k"])
    assert 0.8 * par <= n <= par, (n, par)
    uniform = spark.range(10_000).select((F.col("id") % 1000).alias("k"))
    assert _auto_num_salts(uniform, ["k"]) == 1
    empty = spark.range(0).select(F.col("id").alias("k"))
    assert _auto_num_salts(empty, ["k"]) == 1


def test_salted_join_auto_composite_keys(engine, spark):
    """'auto' over a composite key: sampling groups on the full key
    tuple, and the salted result still equals the plain join."""
    from nosql_join_stream_spark.operators.join import _auto_num_salts

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    skewed = spark.range(8_000).select(
        F.when(F.col("id") % 4 != 3, F.lit(1)).otherwise(F.col("id"))
         .alias("a"),
        F.when(F.col("id") % 4 != 3, F.lit(2)).otherwise(-F.col("id"))
         .alias("b"))
    n = _auto_num_salts(skewed, ["a", "b"])
    assert 0.6 * par <= n <= par, (n, par)  # ~75% hot share
    dim = spark.range(50).select(F.col("id").alias("a"),
                                 (F.col("id") * 2).alias("b"),
                                 F.lit("x").alias("d"))
    salted = salted_join(skewed, dim, on=["a", "b"], num_salts="auto")
    plain = skewed.join(dim, ["a", "b"])
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0
    assert salted.count() == plain.count()


def test_salted_join_auto_equals_plain_join(engine, spark):
    """End-to-end 'auto' on a genuinely skewed fact: one orderkey
    inflated to dominate, result multiset identical to the plain
    join, and the chosen salt spread actually splits the hot key
    across reducers (distinct salts observed > 1)."""
    fact = engine.table("lineitem").select(
        F.col("l_orderkey").alias("orderkey"), "l_linenumber")
    hot = fact.limit(1).select(F.lit(1).alias("orderkey"),
                               F.lit(0).alias("l_linenumber"))
    # replicate one hot row to ~3× the base size
    skewed = fact.union(
        hot.crossJoin(spark.range(3 * fact.count()).select(
            F.col("id").alias("__r"))).drop("__r"))
    dim = engine.table("orders").select(
        F.col("o_orderkey").alias("orderkey"), "o_custkey")
    salted = salted_join(skewed, dim, on="orderkey", num_salts="auto")
    plain = skewed.join(dim, "orderkey")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_write_partitioned_roundtrip(engine, spark, tmp_path):
    out = str(tmp_path / "orders_by_status")
    engine.write(engine.table("orders"), out, partition_by=["o_orderstatus"])
    back = spark.read.parquet(out)
    assert back.count() == engine.table("orders").count()
    # hive-style partition dirs exist → downstream scans prune on status
    import os
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(out))
    pruned = back.filter("o_orderstatus = 'O'")
    assert pruned.count() == engine.table("orders").filter("o_orderstatus = 'O'").count()
    # the filter must reach the scan as a partition filter (directory
    # pruning), not a post-scan row filter
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "o_orderstatus" in \
        plan.split("PartitionFilters", 1)[1][:200], plan


def test_write_bucketed_join_has_no_shuffle(engine, spark):
    # bucket metadata needs the session catalog (warehouse dir is a
    # static conf, so the default ./spark-warehouse is used; cleaned below)
    import shutil
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    shutil.rmtree("spark-warehouse", ignore_errors=True)
    orders = engine.table("orders")
    write_bucketed(orders, "orders_b", ["o_orderkey"], num_buckets=8,
                   sort_by=["o_orderkey"])
    lineitem = engine.table("lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity")
    write_bucketed(lineitem, "lineitem_b", ["o_orderkey"], num_buckets=8,
                   sort_by=["o_orderkey"])
    # disable broadcast so the planner must pick sort-merge — the case
    # bucketing exists for (two big sides); bucketed layout then needs
    # no Exchange on either side
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("orders_b").join(spark.table("lineitem_b"), "o_orderkey")
        assert j.count() == engine.table("lineitem").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    import shutil
    shutil.rmtree("spark-warehouse", ignore_errors=True)


def test_compact_small_files(engine, spark, tmp_path):
    from nosql_join_stream_spark.sinks import compact
    out = str(tmp_path / "frag")
    # fragment: 64 tiny files
    engine.table("lineitem").repartition(64).write.parquet(out)
    import glob
    assert len(glob.glob(f"{out}/*.parquet")) == 64
    before = engine.table("lineitem").count()
    n = compact(spark, out, target_file_bytes=256 * 1024 * 1024,
                sort_by=["l_orderkey"])
    files = glob.glob(f"{out}/*.parquet")
    assert len(files) == n < 64
    back = spark.read.parquet(out)
    assert back.count() == before
    # sorted layout -> row-group stats selective on the sort key
    assert back.filter("l_orderkey = 1").count() == \
        engine.table("lineitem").filter("l_orderkey = 1").count()


def test_bucketed_incremental_index_no_corpus_shuffle(engine, spark, tmp_path):
    """The standing bucketed corpus shingle index joins a (non-
    broadcast) batch prefix index with an Exchange ONLY on the batch
    side — the corpus reads its co-located buckets in place."""
    import shutil

    from nosql_join_stream_spark.operators import dedup

    spark.sql("DROP TABLE IF EXISTS nsjs_index.corpus_prefix")
    spark.sql("DROP TABLE IF EXISTS nsjs_index.corpus_sets")
    loc = str(tmp_path / "nsjs_index")
    docs = engine.table("documents")
    corpus = docs.filter(F.col("doc_id") % 10 != 9)
    batch = docs.filter(F.col("doc_id") % 10 == 9)
    out = dedup.ngram_jaccard_pairs_between_bucketed(
        corpus, batch, "text", "doc_id", n=3, threshold=0.6, location=loc)
    inline = dedup.ngram_jaccard_pairs_between(
        corpus, batch, "text", "doc_id", n=3, threshold=0.6)
    got = {(r.left_id, r.right_id, r.jaccard) for r in out.collect()}
    exp = {(r.left_id, r.right_id, r.jaccard) for r in inline.collect()}
    assert got == exp

    # isolate the candidate-generation join: bucketed index vs batch
    # prefix, broadcast off (the case bucketing exists for)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        ex_l = spark.table("nsjs_index.corpus_prefix")
        _, ex_r = dedup._shingle_prefix(batch, "text", "doc_id", 3, 0.6)
        j = ex_l.join(ex_r.withColumnRenamed("id", "rid")
                          .withColumnRenamed("n_sh", "rn")
                          .withColumnRenamed("p", "rp"), "g")
        j.count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        # exactly one join-key shuffle — the batch side (the second
        # Exchange in the plan is spread's batch-side RoundRobin);
        # a shuffled corpus side would make it two
        n_hash = plan.count("Exchange hashpartitioning")
        assert n_hash == 1, f"expected batch-side-only join shuffle:\n{plan}"
        # corpus side read its buckets in place
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    spark.sql("DROP TABLE IF EXISTS nsjs_index.corpus_prefix")
    spark.sql("DROP TABLE IF EXISTS nsjs_index.corpus_sets")
    spark.sql("DROP DATABASE IF EXISTS nsjs_index")
    shutil.rmtree(loc, ignore_errors=True)


def test_write_zordered_tightens_file_bounding_boxes(engine, spark, tmp_path):
    from nosql_join_stream_spark.sinks import write_zordered

    orders = engine.table("orders").select("o_orderkey", "o_custkey",
                                           "o_totalprice")
    zpath = str(tmp_path / "z")
    npath = str(tmp_path / "naive")
    write_zordered(orders, zpath, ["o_custkey", "o_totalprice"], n_files=8)
    orders.repartition(8).write.parquet(npath)

    lo = orders.agg(F.min("o_custkey"), F.max("o_custkey"),
                    F.min("o_totalprice"), F.max("o_totalprice")).first()
    ck_span = float(lo[1] - lo[0]) or 1.0
    tp_span = float(lo[3] - lo[2]) or 1.0

    def area_sum(path):
        import glob
        total = 0.0
        files = glob.glob(path + "/*.parquet")
        assert len(files) >= 2
        for f in files:
            r = spark.read.parquet(f).agg(
                F.min("o_custkey"), F.max("o_custkey"),
                F.min("o_totalprice"), F.max("o_totalprice")).first()
            total += ((r[1] - r[0]) / ck_span) * (float(r[3] - r[2]) / tp_span)
        return total

    z_area, n_area = area_sum(zpath), area_sum(npath)
    # a random/naive layout's every file spans ~the whole box (area ~8);
    # z-ordered files cover disjoint curve segments with tight boxes
    assert z_area < n_area * 0.5, (z_area, n_area)

    # content round-trips exactly
    back = spark.read.parquet(zpath)
    assert back.count() == orders.count()
    assert ({r.o_orderkey for r in back.select("o_orderkey").collect()}
            == {r.o_orderkey for r in orders.select("o_orderkey").collect()})

    # a 2-D box filter's matching files: prunable subset of the layout
    hit = [f for f in __import__("glob").glob(zpath + "/*.parquet")
           if (lambda r: r[0] is not None)(
               spark.read.parquet(f)
               .filter((F.col("o_custkey") <= lo[0] + 0.25 * ck_span)
                       & (F.col("o_totalprice") <= lo[2] + 0.25 * tp_span))
               .agg(F.min("o_custkey")).first())]
    assert len(hit) <= 4  # the box touches a minority of z-files


def test_write_log_rolled_partitions_and_prunes(spark, engine, tmp_path):
    import glob
    import os
    import re

    from nosql_join_stream_spark import sinks

    ev = engine.table("events").select("event_id", "user_id", "ts")
    n = ev.count()
    out = str(tmp_path / "log")
    sinks.write_log_rolled(ev, out, "event_id", max_partition_rows=1000)
    parts = sorted(glob.glob(os.path.join(out, "log_part=*")))
    # ceil(n/1000) rolled partitions, reference maxPartitionSize analog
    assert len(parts) == -(-n // 1000)
    back = spark.read.parquet(out)
    assert back.count() == n
    # resuming from an offset prunes to the right directories
    scan = back.filter(F.col("log_part") >= 3)
    plan = scan._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "log_part" in m.group(1)
    assert scan.count() == max(0, n - 3000)
    # partition k holds exactly the k-th thousand of event_ids in order
    first = spark.read.parquet(os.path.join(out, "log_part=0"))
    ids = sorted(r.event_id for r in first.select("event_id").collect())
    all_ids = sorted(r.event_id for r in ev.select("event_id").collect())
    assert ids == all_ids[:1000]


def test_upsert_keyed_merges_and_leaves_untouched_buckets_alone(
        spark, tmp_path):
    """upsert_keyed_snapshot applies updates, drops stale rows, inserts
    new keys and collapses within-batch duplicates; buckets the batch
    does not touch keep their old version dir in the new manifest,
    byte-identical; replaying the batch changes no row."""
    import glob
    import hashlib
    import os

    from nosql_join_stream_spark.sinks import (
        _read_manifest, latest_per_key, read_keyed_snapshot,
        upsert_keyed_snapshot, write_keyed_snapshot)

    def file_state(path):
        out = {}
        for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                           recursive=True):
            out[os.path.relpath(f, path)] = hashlib.sha256(
                open(f, "rb").read()).hexdigest()
        return out

    # standing table: 40 keys, seq=1 each, bucketed into 8 dirs
    initial = spark.createDataFrame(
        [(k, 1, f"v{k}.1") for k in range(40)], ["k", "seq", "payload"])
    path = str(tmp_path / "keyed")
    write_keyed_snapshot(latest_per_key(initial, "k", ["seq"]), path, "k",
                         num_buckets=8)
    before = file_state(path)
    assert len({p.split(os.sep)[1] for p in before}) == 8
    v1_map = _read_manifest(spark, path)[3]
    assert set(v1_map.values()) == {"v1"} and len(v1_map) == 8

    # batch: update key 3 (newer seq wins), STALE row for key 5 (must
    # lose), brand-new key 1000, and a within-batch dup for key 7
    batch = spark.createDataFrame(
        [(3, 2, "v3.2"), (5, 0, "stale"), (1000, 1, "new"),
         (7, 2, "v7.2"), (7, 3, "v7.3")],
        ["k", "seq", "payload"])
    stats = upsert_keyed_snapshot(spark, path, batch, "k", ["seq"])
    assert stats["version"] == 2
    assert 1 <= stats["buckets_touched"] <= 4  # 4 distinct keys max

    got = {(r.k, r.seq, r.payload)
           for r in read_keyed_snapshot(spark, path).collect()}
    assert (3, 2, "v3.2") in got          # update applied
    assert (5, 1, "v5.1") in got          # stale row lost
    assert (1000, 1, "new") in got        # insert
    assert (7, 3, "v7.3") in got          # within-batch dup collapsed
    assert len(got) == 41                 # 40 keys + 1 insert

    # exactly the touched buckets moved to the new version dir; the
    # untouched ones still point at v1, whose files are byte-identical
    v2_map = _read_manifest(spark, path)[3]
    moved = {kb for kb, d in v2_map.items() if d != "v1"}
    assert len(moved) == stats["buckets_touched"]
    after = file_state(path)
    for kb in set(v2_map) - moved:
        prefix = os.path.join("v1", f"__kb={kb}") + os.sep
        b_files = {p: h for p, h in before.items() if p.startswith(prefix)}
        a_files = {p: h for p, h in after.items() if p.startswith(prefix)}
        assert b_files and a_files == b_files

    # idempotent: replaying the same batch changes no row
    upsert_keyed_snapshot(spark, path, batch, "k", ["seq"])
    again = {(r.k, r.seq, r.payload)
             for r in read_keyed_snapshot(spark, path).collect()}
    assert again == got


def test_write_observed_collects_metrics_in_flight(spark, tmp_path):
    """Observation metrics ride the write's own pass — the returned
    audit equals what a (second-scan) post-write check would count."""
    from pyspark.sql import functions as F

    from nosql_join_stream_spark.sinks import write_observed

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "z"), (4, None)], "id long, v string")
    out = str(tmp_path / "obs")
    m = write_observed(df, out, metrics={
        "n_rows": F.count(F.lit(1)),
        "n_null_v": F.sum(F.col("v").isNull().cast("int")),
        "max_id": F.max("id")})
    assert m == {"n_rows": 4, "n_null_v": 2, "max_id": 4}
    assert spark.read.parquet(out).count() == 4
    # default metric: just the row count
    assert write_observed(df, out)["n_rows"] == 4


def test_retention_expire_drops_only_old_partitions(spark, tmp_path):
    from nosql_join_stream_spark.sinks import retention_expire, write_table

    df = spark.createDataFrame(
        [(d, i) for d in ("2024-01-01", "2024-01-02", "2024-01-03")
         for i in range(5)], "day string, v int")
    out = str(tmp_path / "log")
    write_table(df, out, partition_by=["day"])
    n = retention_expire(spark, out, "day", "2024-01-03")
    assert n == 2
    left = spark.read.parquet(out)  # partition col inferred as DATE
    assert {str(r.day) for r in left.select("day").distinct().collect()} \
        == {"2024-01-03"}
    # idempotent: nothing left to expire
    assert retention_expire(spark, out, "day", "2024-01-03") == 0


def test_snapshot_keyed_table_merge_isolation_and_gc(spark, tmp_path):
    import glob
    import os

    from nosql_join_stream_spark.sinks import (
        gc_keyed_snapshots, latest_per_key, read_keyed_snapshot,
        upsert_keyed_snapshot, write_keyed_snapshot)

    path = str(tmp_path / "vt")
    initial = spark.createDataFrame(
        [(k, 1, f"v{k}.1") for k in range(20)], ["k", "seq", "p"])
    assert write_keyed_snapshot(
        latest_per_key(initial, "k", ["seq"]), path, "k",
        num_buckets=4) == 1

    # a reader resolves the v1 snapshot BEFORE the merge lands...
    old_reader = read_keyed_snapshot(spark, path)

    batch = spark.createDataFrame(
        [(3, 2, "v3.2"), (100, 1, "new"), (5, 0, "stale")],
        ["k", "seq", "p"])
    stats = upsert_keyed_snapshot(spark, path, batch, "k", ["seq"])
    assert stats["version"] == 2 and 1 <= stats["buckets_touched"] <= 3

    # ...new readers see the merge...
    got = {(r.k, r.seq, r.p)
           for r in read_keyed_snapshot(spark, path).collect()}
    assert (3, 2, "v3.2") in got and (100, 1, "new") in got
    assert (5, 1, "v5.1") in got and len(got) == 21

    # ...and the OLD reader still collects the v1 snapshot, post-merge
    old = {(r.k, r.seq, r.p) for r in old_reader.collect()}
    assert (3, 1, "v3.1") in old and (100, 1, "new") not in old
    assert len(old) == 20

    # v1 files are untouched on disk (immutability, not luck)
    assert glob.glob(os.path.join(path, "v1", "__kb=*", "*.parquet"))

    # GC to the latest manifest only: v1 dirs referenced by the live
    # manifest must SURVIVE (untouched buckets still live there)
    removed = gc_keyed_snapshots(spark, path, keep_manifests=1)
    assert removed == 0  # v1 still referenced for untouched buckets
    still = {(r.k, r.seq, r.p)
             for r in read_keyed_snapshot(spark, path).collect()}
    assert still == got

    # rewrite EVERY key so a fresh version owns all buckets, then GC
    # drops the now-unreferenced older dirs
    allkeys = spark.createDataFrame(
        [(k, 9, "z") for k in list(range(20)) + [100]],
        ["k", "seq", "p"])
    upsert_keyed_snapshot(spark, path, allkeys, "k", ["seq"])
    removed = gc_keyed_snapshots(spark, path, keep_manifests=1)
    assert removed >= 1
    final = {(r.k, r.seq, r.p)
             for r in read_keyed_snapshot(spark, path).collect()}
    assert final == {(k, 9, "z") for k in list(range(20)) + [100]}


def test_snapshot_time_travel_reads_past_versions(spark, tmp_path):
    import pytest

    from nosql_join_stream_spark.sinks import (
        gc_keyed_snapshots, latest_per_key, read_keyed_snapshot,
        upsert_keyed_snapshot, write_keyed_snapshot)

    path = str(tmp_path / "tt")
    v1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")],
                               ["k", "seq", "p"])
    write_keyed_snapshot(latest_per_key(v1, "k", ["seq"]), path, "k",
                         num_buckets=2)
    upsert_keyed_snapshot(
        spark, path,
        spark.createDataFrame([(1, 2, "a2")], ["k", "seq", "p"]),
        "k", ["seq"])
    # latest sees the merge; v1 time-travel sees the original
    assert {(r.k, r.p) for r in
            read_keyed_snapshot(spark, path).collect()} \
        == {(1, "a2"), (2, "b")}
    assert {(r.k, r.p) for r in
            read_keyed_snapshot(spark, path, version=1).collect()} \
        == {(1, "a"), (2, "b")}
    # GC to the newest manifest retires v1 from the travel window
    gc_keyed_snapshots(spark, path, keep_manifests=1)
    with pytest.raises(ValueError, match="GC'd or never written"):
        read_keyed_snapshot(spark, path, version=1)


def test_snapshot_concurrent_writer_rebases_and_both_land(spark, tmp_path):
    """Two interleaved snapshot merges: the loser detects the manifest
    collision at its atomic publish, REBASES onto the winner's commit,
    and re-merges — both batches land, keep-latest holds on the
    contended key, and the loser's orphan data dir is GC-swept."""
    import glob
    import os

    import nosql_join_stream_spark.sinks as S

    path = str(tmp_path / "race")
    initial = spark.createDataFrame(
        [(k, 1, f"v{k}.1") for k in range(10)], ["k", "seq", "p"])
    S.write_keyed_snapshot(S.latest_per_key(initial, "k", ["seq"]),
                           path, "k", num_buckets=4)
    winner = spark.createDataFrame([(1, 2, "winner"), (50, 1, "w-new")],
                                   ["k", "seq", "p"])
    loser = spark.createDataFrame([(1, 3, "loser"), (60, 1, "l-new")],
                                  ["k", "seq", "p"])

    orig = S._write_manifest
    state = {"raced": False}

    def racy(spark_, p, version, key_col, num_buckets, buckets,
             schema=None):
        # the winner lands BETWEEN the loser's manifest read and its
        # publish — the exact interleaving the optimistic loop exists
        # for; restore the real publish for the winner's nested merge
        if not state["raced"]:
            state["raced"] = True
            S._write_manifest = orig
            S.upsert_keyed_snapshot(spark_, p, winner, "k", ["seq"])
            S._write_manifest = racy
        return orig(spark_, p, version, key_col, num_buckets, buckets,
                    schema=schema)

    S._write_manifest = racy
    try:
        stats = S.upsert_keyed_snapshot(spark, path, loser, "k", ["seq"])
    finally:
        S._write_manifest = orig

    # loser's first publish (v2) collided with the winner's commit and
    # was retried as v3
    assert stats["version"] == 3
    got = {(r.k, r.seq, r.p)
           for r in S.read_keyed_snapshot(spark, path).collect()}
    assert (50, 1, "w-new") in got and (60, 1, "l-new") in got
    assert (1, 3, "loser") in got          # keep-latest on contention
    assert (1, 2, "winner") not in got
    assert len(got) == 12

    # the loser's first-attempt data dir is an unreferenced orphan at
    # a committed version number — GC sweeps it, readers never saw it
    v2_dirs = glob.glob(os.path.join(path, "v2-*"))
    assert len(v2_dirs) == 2               # winner's (live) + orphan
    removed = S.gc_keyed_snapshots(spark, path, keep_manifests=10)
    assert removed == 1
    assert {(r.k, r.seq, r.p)
            for r in S.read_keyed_snapshot(spark, path).collect()} == got


def test_snapshot_conflict_raises_clean_after_retries(spark, tmp_path):
    """A writer that loses every retry raises SnapshotConflict and
    leaves the table uncorrupted at the other writer's commit."""
    import pytest

    import nosql_join_stream_spark.sinks as S

    path = str(tmp_path / "race2")
    S.write_keyed_snapshot(
        spark.createDataFrame([(1, 1, "a")], ["k", "seq", "p"]),
        path, "k", num_buckets=2)
    before = {(r.k, r.seq, r.p)
              for r in S.read_keyed_snapshot(spark, path).collect()}

    orig = S._write_manifest

    def always_collide(*a, **kw):
        raise S.SnapshotConflict("simulated standing collision")

    S._write_manifest = always_collide
    try:
        with pytest.raises(S.SnapshotConflict, match="lost the commit"):
            S.upsert_keyed_snapshot(
                spark, path,
                spark.createDataFrame([(1, 2, "b")], ["k", "seq", "p"]),
                "k", ["seq"], max_retries=2)
    finally:
        S._write_manifest = orig
    assert {(r.k, r.seq, r.p)
            for r in S.read_keyed_snapshot(spark, path).collect()} == before


def test_snapshot_schema_evolution_add_omit_retype(spark, tmp_path):
    from nosql_join_stream_spark.sinks import (
        read_keyed_snapshot, upsert_keyed_snapshot, write_keyed_snapshot)

    import pytest

    path = str(tmp_path / "evolve")
    v1 = spark.createDataFrame([(1, 1, "a"), (2, 1, "b")],
                               ["k", "seq", "p"])
    write_keyed_snapshot(v1, path, "k", num_buckets=2)

    # ADD a column: old rows read back with typed NULLs
    added = spark.createDataFrame([(1, 2, "a2", "en")],
                                  ["k", "seq", "p", "lang"])
    upsert_keyed_snapshot(spark, path, added, "k", ["seq"])
    got = {r.k: (r.seq, r.p, r.lang)
           for r in read_keyed_snapshot(spark, path).collect()}
    assert got[1] == (2, "a2", "en")
    assert got[2] == (1, "b", None)
    # time travel still reads the PRE-evolution snapshot with its own
    # schema (no phantom lang column)
    old = read_keyed_snapshot(spark, path, version=1)
    assert old.columns == ["k", "seq", "p"]
    assert {(r.k, r.p) for r in old.collect()} == {(1, "a"), (2, "b")}

    # OMIT a column: the batch's rows fill it with NULL
    omitted = spark.createDataFrame([(2, 3, "de")], ["k", "seq", "lang"])
    upsert_keyed_snapshot(spark, path, omitted, "k", ["seq"])
    got = {r.k: (r.seq, r.p, r.lang)
           for r in read_keyed_snapshot(spark, path).collect()}
    assert got[2] == (3, None, "de")
    assert got[1] == (2, "a2", "en")

    # RETYPE is rejected loudly — silent cast drift is data loss
    retyped = spark.createDataFrame([(1, 4, 7)], ["k", "seq", "p"])
    with pytest.raises(ValueError, match="incompatible schema change"):
        upsert_keyed_snapshot(spark, path, retyped, "k", ["seq"])


def test_upsert_keyed_delete_markers_remove_keys(spark, tmp_path):
    """Full CDC (not just upserts) on the keyed snapshot table: a key
    whose LATEST op is a delete marker leaves the table, an older delete
    loses to a newer upsert, a stale delete loses to the standing row,
    and a bucket emptied by deletions leaves the manifest; a
    fully-emptied table reads back empty with its recorded schema."""
    from nosql_join_stream_spark.sinks import (
        _read_manifest, read_keyed_snapshot, upsert_keyed_snapshot,
        write_keyed_snapshot)

    path = str(tmp_path / "cdcdel")
    write_keyed_snapshot(
        spark.createDataFrame([(k, 1, f"v{k}") for k in range(8)],
                              "k long, seq long, p string"),
        path, "k", num_buckets=2)
    assert _read_manifest(spark, path)[3] != {}
    batch = spark.createDataFrame(
        [(1, 2, None, True),      # delete k=1 (latest op wins)
         (2, 2, "v2.2", False),   # plain upsert
         (3, 3, "v3.3", False),   # upsert AFTER an older delete
         (3, 2, None, True),
         (4, 0, None, True),      # STALE delete: seq 0 < standing 1
         (9, 1, "v9", False)],    # insert
        "k long, seq long, p string, is_del boolean")
    upsert_keyed_snapshot(spark, path, batch, "k", ["seq"],
                          delete_col="is_del")
    got = {r.k: (r.seq, r.p)
           for r in read_keyed_snapshot(spark, path).collect()}
    assert 1 not in got                      # deleted
    assert got[2] == (2, "v2.2")
    assert got[3] == (3, "v3.3")             # newer upsert beats delete
    assert got[4] == (1, "v4")               # stale delete ignored
    assert got[9] == (1, "v9")
    assert set(got) == {0, 2, 3, 4, 5, 6, 7, 9}

    # delete EVERY key: every bucket leaves the manifest, and the
    # latest snapshot is EMPTY but readable with the recorded schema
    wipe = spark.createDataFrame(
        [(k, 9, None, True) for k in got],
        "k long, seq long, p string, is_del boolean")
    upsert_keyed_snapshot(spark, path, wipe, "k", ["seq"],
                          delete_col="is_del")
    assert _read_manifest(spark, path)[3] == {}
    emptied = read_keyed_snapshot(spark, path)
    assert emptied.columns == ["k", "seq", "p"] and emptied.count() == 0


def test_snapshot_delete_markers_and_time_travel(spark, tmp_path):
    from nosql_join_stream_spark.sinks import (
        read_keyed_snapshot, upsert_keyed_snapshot, write_keyed_snapshot)

    path = str(tmp_path / "snapdel")
    write_keyed_snapshot(
        spark.createDataFrame([(1, 1, "a"), (2, 1, "b"), (3, 1, "c")],
                              ["k", "seq", "p"]),
        path, "k", num_buckets=2)
    batch = spark.createDataFrame(
        [(1, 2, None, True), (4, 1, "d", False)],
        "k long, seq long, p string, is_del boolean")
    upsert_keyed_snapshot(spark, path, batch, "k", ["seq"],
                          delete_col="is_del")
    got = {(r.k, r.p) for r in read_keyed_snapshot(spark, path).collect()}
    assert got == {(2, "b"), (3, "c"), (4, "d")}
    # the PRE-delete snapshot still time-travels (audit the takedown)
    v1 = {(r.k, r.p)
          for r in read_keyed_snapshot(spark, path, version=1).collect()}
    assert v1 == {(1, "a"), (2, "b"), (3, "c")}

    # wipe everything: the latest snapshot is EMPTY but readable with
    # the recorded schema
    wipe = spark.createDataFrame(
        [(k, 9, None, True) for k in (2, 3, 4)],
        "k long, seq long, p string, is_del boolean")
    upsert_keyed_snapshot(spark, path, wipe, "k", ["seq"],
                          delete_col="is_del")
    empty = read_keyed_snapshot(spark, path)
    assert empty.columns == ["k", "seq", "p"] and empty.count() == 0


def test_snapshot_gc_spares_inflight_version_dirs(spark, tmp_path):
    """ADVICE r5 (medium): a merge writes its v<N+1>-*/ data files
    BEFORE publishing the manifest; a GC landing in that gap must not
    delete them — only dirs at or below the newest COMMITTED version
    are GC candidates."""
    import os

    from nosql_join_stream_spark.sinks import (
        gc_keyed_snapshots, write_keyed_snapshot)

    path = str(tmp_path / "gcflight")
    write_keyed_snapshot(
        spark.createDataFrame([(1, 1, "a")], ["k", "seq", "p"]),
        path, "k", num_buckets=2)
    # simulate the in-flight merge's pre-publish data dir (committed
    # manifest is still v1)
    inflight = os.path.join(path, "v2-aabbccdd")
    os.makedirs(inflight)
    with open(os.path.join(inflight, "part-0.parquet"), "wb") as f:
        f.write(b"pending")
    assert gc_keyed_snapshots(spark, path, keep_manifests=1) == 0
    assert os.path.isdir(inflight)


def test_keyed_lookup_point_reads_prune_buckets(spark, tmp_path):
    """keyed_snapshot_lookup serves per-key GETs from the bucket
    layout: values equal the full-table filter, the scan reads only
    the probed key's ``__kb=<b>`` dir, an absent key gives no rows, an
    empty key list is an empty typed frame, a missing table raises."""
    import os
    from urllib.parse import urlparse

    import pytest

    from nosql_join_stream_spark.sinks import (
        _key_bucket, keyed_snapshot_lookup, read_keyed_snapshot,
        write_keyed_snapshot)

    path = str(tmp_path / "kt")
    df = spark.createDataFrame([(k, f"p{k}", k * 10.0)
                                for k in range(200)],
                               "k long, p string, v double")
    write_keyed_snapshot(df, path, "k", num_buckets=16)

    got = {(r.k, r.p, r.v) for r in
           keyed_snapshot_lookup(spark, path, [3, 77, 150]).collect()}
    assert got == {(3, "p3", 30.0), (77, "p77", 770.0),
                   (150, "p150", 1500.0)}
    # pruning: every file the scan plans to read lies under key 3's
    # bucket dir
    b3 = (spark.createDataFrame([(3,)], "k long")
          .select(_key_bucket("k", 16).alias("b")).first().b)
    files = keyed_snapshot_lookup(spark, path, [3]).inputFiles()
    assert files and all(
        os.path.dirname(urlparse(f).path).endswith(f"/kt/v1/__kb={b3}")
        for f in files), files
    # lookup of an absent key: no rows, not an error
    assert keyed_snapshot_lookup(spark, path, [10_000]).count() == 0
    assert keyed_snapshot_lookup(spark, path, []).columns == ["k", "p", "v"]
    assert keyed_snapshot_lookup(spark, path, []).count() == 0
    with pytest.raises(ValueError, match="no committed snapshot"):
        keyed_snapshot_lookup(spark, path + "_nope", [1])
    # values equal the unpruned read, restricted
    full = {(r.k, r.p, r.v) for r in
            read_keyed_snapshot(spark, path)
            .filter(F.col("k").isin([3, 77, 150])).collect()}
    assert full == got


def test_keyed_snapshot_lookup_time_travel_and_deletes(spark, tmp_path):
    """Snapshot point lookups: a GET against the table as of any
    committed version, at touched-bucket cost — including a key
    whose bucket left the manifest entirely after deletes."""
    from nosql_join_stream_spark.sinks import (keyed_snapshot_lookup,
                                               upsert_keyed_snapshot,
                                               write_keyed_snapshot)

    path = str(tmp_path / "snap")
    base = spark.createDataFrame([(k, 1, f"a{k}") for k in range(40)],
                                 "k long, seq long, p string")
    write_keyed_snapshot(base, path, "k", num_buckets=8)  # v1
    upd = spark.createDataFrame([(7, 2, "UPDATED")],
                                "k long, seq long, p string")
    upsert_keyed_snapshot(spark, path, upd, "k", ["seq"])  # v2

    assert [(r.k, r.p) for r in
            keyed_snapshot_lookup(spark, path, [7]).collect()] \
        == [(7, "UPDATED")]
    assert [(r.k, r.p) for r in
            keyed_snapshot_lookup(spark, path, [7],
                                  version=1).collect()] \
        == [(7, "a7")]
    # delete k=7: latest lookup finds nothing, v2 still time-travels
    rm = spark.createDataFrame([(7, 3, None, True)],
                               "k long, seq long, p string, "
                               "is_del boolean")
    upsert_keyed_snapshot(spark, path, rm, "k", ["seq"],
                          delete_col="is_del")  # v3
    assert keyed_snapshot_lookup(spark, path, [7]).count() == 0
    assert [(r.k, r.p) for r in
            keyed_snapshot_lookup(spark, path, [7],
                                  version=2).collect()] \
        == [(7, "UPDATED")]
    # untouched key reads identically at every version
    for v in (1, 2, 3):
        assert [(r.k, r.p) for r in
                keyed_snapshot_lookup(spark, path, [11],
                                      version=v).collect()] \
            == [(11, "a11")]


def test_auto_salts_tiny_table_does_not_explode(spark):
    """A handful-of-rows sample must not drive salt sizing: a 1-row
    sample reads hot_share=1.0 and would size salts to the full
    parallelism for a join with zero skew (r10 review catch).  Below
    the minimum support the exact pass runs instead — a small uniform
    table sizes to ~1, never to parallelism."""
    from nosql_join_stream_spark.operators.join import _auto_num_salts

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tiny_uniform = spark.range(150).select(F.col("id").alias("k"))
    n = _auto_num_salts(tiny_uniform, ["k"])
    assert n <= max(2, par // 4), (n, par)


def test_scd2_history_semantics(spark):
    from datetime import datetime

    from nosql_join_stream_spark.sinks import scd2_history

    ts = lambda d: datetime(2024, 1, d)  # noqa: E731
    rows = [
        # user 1: A,A,B,A — the same value RETURNS as a new interval
        (1, ts(1), 10, "A"), (1, ts(2), 11, "A"),
        (1, ts(3), 12, "B"), (1, ts(4), 13, "A"),
        # user 2: single run
        (2, ts(1), 20, "X"), (2, ts(5), 21, "X"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, et string")
    out = {(r.user_id, r.valid_from): r
           for r in scd2_history(df, "user_id", ["ts", "event_id"],
                                 "et").collect()}
    assert len(out) == 4
    a1 = out[(1, ts(1))]
    assert (a1.et, a1.n_events, a1.valid_to, a1.is_current) == \
        ("A", 2, ts(3), False)
    b = out[(1, ts(3))]
    assert (b.et, b.n_events, b.valid_to, b.is_current) == \
        ("B", 1, ts(4), False)
    a2 = out[(1, ts(4))]
    assert (a2.et, a2.valid_to, a2.is_current) == ("A", None, True)
    x = out[(2, ts(1))]
    assert (x.et, x.n_events, x.is_current) == ("X", 2, True)
    # intervals chain exactly: each valid_to is the next valid_from,
    # one current row per key
    assert sum(1 for r in out.values()
               if r.user_id == 1 and r.is_current) == 1


def test_scd2_history_single_exchange(engine):
    """The three window specs share one shuffle on the key — the plan
    must carry exactly one hashpartitioning exchange for user_id."""
    from nosql_join_stream_spark.sinks import scd2_history

    plan = scd2_history(engine.table("events"), "user_id",
                        ["ts", "event_id"], "event_type") \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.lower().count("hashpartitioning(user_id") <= 2


def test_scd2_apply_batch_folds_without_touching_closed_history(spark):
    from datetime import datetime

    from nosql_join_stream_spark.sinks import scd2_apply_batch, scd2_history

    ts = lambda d: datetime(2024, 1, d)  # noqa: E731
    hist_ev = [
        (1, ts(1), 10, "A"), (1, ts(2), 11, "A"), (1, ts(3), 12, "B"),
        (2, ts(1), 20, "X"),
        (3, ts(2), 30, "Z"),   # untouched by the batch
    ]
    batch_ev = [
        (1, ts(5), 13, "B"),   # extends user 1's current B interval
        (1, ts(6), 14, "C"),   # then changes it
        (2, ts(4), 21, "X"),   # extends user 2's only interval
        (4, ts(7), 40, "Q"),   # key with no history at all
    ]
    schema = "user_id long, ts timestamp, event_id long, et string"
    hist = scd2_history(spark.createDataFrame(hist_ev, schema),
                        "user_id", ["ts", "event_id"], "et")
    folded = scd2_apply_batch(hist, spark.createDataFrame(batch_ev, schema),
                              "user_id", ["ts", "event_id"], "et")
    cols = ["user_id", "et", "valid_from", "valid_to", "is_current",
            "n_events"]
    full = scd2_history(
        spark.createDataFrame(hist_ev + batch_ev, schema),
        "user_id", ["ts", "event_id"], "et").select(*cols)
    folded = folded.select(*cols)
    assert folded.exceptAll(full).count() == 0
    assert full.exceptAll(folded).count() == 0
    out = {(r.user_id, r.et, r.valid_from): r for r in folded.collect()}
    # extended current interval keeps its tally: B run = event 12 + 13
    b = out[(1, "B", ts(3))]
    assert (b.n_events, b.valid_to, b.is_current) == (2, ts(6), False)
    assert out[(1, "C", ts(6))].is_current
    assert out[(2, "X", ts(1))].n_events == 2
    assert out[(4, "Q", ts(7))].is_current
    # untouched key's row unchanged
    assert out[(3, "Z", ts(2))].is_current


def test_scd2_apply_batch_rejects_out_of_order_event(spark):
    """A batch event older than its key's current interval needs
    closed-history repair — the fold must RAISE, never silently
    mis-collapse (guard rides the surviving ts column)."""
    from datetime import datetime

    from pyspark.sql.utils import PythonException

    from nosql_join_stream_spark.sinks import scd2_apply_batch, scd2_history

    ts = lambda d: datetime(2024, 1, d)  # noqa: E731
    schema = "user_id long, ts timestamp, event_id long, et string"
    hist = scd2_history(
        spark.createDataFrame([(1, ts(5), 10, "A")], schema),
        "user_id", ["ts", "event_id"], "et")
    bad = spark.createDataFrame([(1, ts(2), 11, "B")], schema)
    with pytest.raises(Exception, match="predates|SCD2|rebuild"):
        scd2_apply_batch(hist, bad, "user_id", ["ts", "event_id"],
                         "et").collect()


def test_scd2_point_in_time_semantics_and_plan(spark):
    """SCD2 intervals consumed by an as-of lookup: each fact row gets
    the dimension value valid AT its timestamp; the plan is union +
    key-partitioned windows — never an interval pair space (no BNLJ /
    cartesian)."""
    from datetime import datetime

    from nosql_join_stream_spark.operators.join import asof_join
    from nosql_join_stream_spark.sinks import scd2_history

    ts = lambda d: datetime(2024, 1, d)  # noqa: E731
    dim_ev = [(1, ts(2), 10, "bronze"), (1, ts(5), 11, "gold"),
              (1, ts(9), 12, "bronze"), (2, ts(4), 20, "silver")]
    dim = scd2_history(
        spark.createDataFrame(
            dim_ev, "user_id long, ts timestamp, event_id long, et string"),
        "user_id", ["ts", "event_id"], "et")
    dim = dim.filter(F.col("valid_to").isNull()
                     | (F.col("valid_from") < F.col("valid_to")))
    facts = spark.createDataFrame(
        [(100, 1, ts(1)),   # before any state → no match
         (101, 1, ts(2)),   # exactly at interval start → bronze
         (102, 1, ts(6)),   # inside gold
         (103, 1, ts(9)),   # boundary day → new bronze interval
         (104, 2, ts(30))], # current (open) interval
        "fact_id long, user_id long, ts timestamp")
    out = asof_join(facts, dim, on="user_id", left_ts="ts",
                    right_ts="valid_from", payload=["et"],
                    direction="backward")
    got = {r.fact_id: r.asof_et for r in out.collect()}
    assert got == {100: None, 101: "bronze", 102: "gold",
                   103: "bronze", 104: "silver"}
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "broadcastnestedloop" not in plan
    assert "cartesian" not in plan


def test_scd2_history_null_tracked_runs(spark):
    """NULL tracked values form runs like any other value (null-safe
    boundary detection): value→NULL opens a NEW interval, consecutive
    NULLs collapse into ONE — plain `lag != col` merged the former
    into the prior run and split the latter row-per-row."""
    from datetime import datetime

    from nosql_join_stream_spark.sinks import scd2_history

    ts = lambda d: datetime(2024, 1, d)  # noqa: E731
    rows = [(1, ts(1), 10, "A"), (1, ts(2), 11, None),
            (1, ts(3), 12, None), (1, ts(4), 13, "A"),
            (2, ts(1), 20, None), (2, ts(2), 21, None)]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, et string")
    out = {(r.user_id, r.valid_from): r
           for r in scd2_history(df, "user_id", ["ts", "event_id"],
                                 "et").collect()}
    assert len(out) == 4
    assert (out[(1, ts(1))].et, out[(1, ts(1))].n_events) == ("A", 1)
    nul = out[(1, ts(2))]
    assert (nul.et, nul.n_events, nul.valid_to, nul.is_current) == \
        (None, 2, ts(4), False)
    assert out[(1, ts(4))].is_current
    lead_null = out[(2, ts(1))]  # leading-NULL run, single interval
    assert (lead_null.et, lead_null.n_events, lead_null.is_current) == \
        (None, 2, True)
    # exactly one current row per key survives the interval chain
    assert sum(1 for r in out.values() if r.is_current) == 2


def test_scd2_apply_batch_string_tie_column(spark):
    """The fold's pseudo-event must not invent tie-column VALUES: with
    a STRING tie column the old `lit(-1).cast('long')` sentinel
    type-coerced the union (bigint∪string) and could reorder same-ts
    batch events.  The rank-column form keeps tie types intact —
    folded == full on same-timestamp batches ordered by string ids."""
    from datetime import datetime

    from nosql_join_stream_spark.sinks import scd2_apply_batch, scd2_history

    ts = lambda d: datetime(2024, 1, d)  # noqa: E731
    schema = "user_id long, ts timestamp, eid string, et string"
    hist_ev = [(1, ts(1), "e05", "A"), (1, ts(2), "e06", "B")]
    # two batch events share ts(3); string order "e10" < "e11" must
    # decide the run order (B then A → B extends, then A opens)
    batch_ev = [(1, ts(3), "e11", "A"), (1, ts(3), "e10", "B")]
    hist = scd2_history(spark.createDataFrame(hist_ev, schema),
                        "user_id", ["ts", "eid"], "et")
    batch = spark.createDataFrame(batch_ev, schema)
    cols = ["user_id", "et", "valid_from", "valid_to", "is_current",
            "n_events"]
    folded = scd2_apply_batch(hist, batch, "user_id", ["ts", "eid"],
                              "et").select(*cols)
    full = scd2_history(spark.createDataFrame(hist_ev + batch_ev, schema),
                        "user_id", ["ts", "eid"], "et").select(*cols)
    assert folded.exceptAll(full).count() == 0
    assert full.exceptAll(folded).count() == 0
    out = {(r.et, r.valid_from): r for r in folded.collect()}
    assert out[("B", ts(2))].n_events == 2      # extended by e10
    assert out[("A", ts(3))].is_current         # opened by e11
    # tie column type survived the union un-coerced
    assert dict(batch.dtypes)["eid"] == "string"
