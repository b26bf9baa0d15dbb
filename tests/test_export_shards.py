"""Deterministic shard export (operators/export_shards.py): the
dataloader contract — equal sizes, seeded determinism, cross-run
stability, one sorted file per shard, manifest fidelity, and the
no-single-partition-sort plan shape."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from nosql_join_stream_spark.operators import export_shards

N = 16
SEED = 7


@pytest.fixture(scope="module")
def docs(engine):
    return engine.table("documents").select("doc_id")


def test_shard_sizes_equal_within_one(docs):
    sizes = (export_shards.assign_shards(docs, "doc_id", N, seed=SEED)
             .groupBy("shard").count().collect())
    assert len(sizes) == N
    assert {r["shard"] for r in sizes} == set(range(N))
    counts = [r["count"] for r in sizes]
    assert max(counts) - min(counts) <= 1


def test_assignment_is_pure_hash_of_id_and_seed(docs):
    a = export_shards.assign_shards(docs, "doc_id", N, seed=SEED)
    b = export_shards.assign_shards(docs, "doc_id", N, seed=SEED)
    diff = (a.alias("a").join(b.alias("b"), "doc_id")
            .filter(F.col("a.shard") != F.col("b.shard")).count())
    assert diff == 0
    # a different seed is a genuinely different permutation
    c = export_shards.assign_shards(docs, "doc_id", N, seed=SEED + 1)
    moved = (a.alias("a").join(c.alias("c"), "doc_id")
             .filter(F.col("a.shard") != F.col("c.shard")).count())
    assert moved > 0


def test_matches_reference_window_formula(docs, spark):
    """The distributed two-pass index equals the single-window truth."""
    from pyspark.sql import Window
    got = export_shards.assign_shards(docs, "doc_id", N, seed=SEED)
    key = export_shards.seeded_order_hash(F.col("doc_id"), SEED)
    total = docs.count()
    w = Window.orderBy(key, "doc_id")
    want = (docs.withColumn("__rn", F.row_number().over(w))
            .withColumn("shard_ref",
                        F.expr(f"CAST(((__rn - 1) * {N}) DIV {total} "
                               f"AS INT)")))
    diff = (got.join(want.select("doc_id", "shard_ref"), "doc_id")
            .filter(F.col("shard") != F.col("shard_ref")).count())
    assert diff == 0


def test_no_single_partition_exchange_on_the_row_side(docs):
    """The corpus-sized side must never collapse to one partition —
    the only SinglePartition structure allowed is the partitions-sized
    offset table (rangepartitioning carries the big side)."""
    plan = (export_shards.assign_shards(docs, "doc_id", N, seed=SEED)
            ._jdf.queryExecution().executedPlan().toString())
    assert "rangepartitioning" in plan.lower()


def test_write_shards_layout_manifest_and_stability(docs, tmp_path):
    path = str(tmp_path / "shards")
    m1 = export_shards.write_shards(docs, path, "doc_id", N, seed=SEED)
    assert m1["n_shards"] == N and m1["seed"] == SEED
    assert sum(s["rows"] for s in m1["shards"]) == m1["total_rows"]
    sizes = [s["rows"] for s in m1["shards"]]
    assert max(sizes) - min(sizes) <= 1
    with open(os.path.join(path, "_MANIFEST.json")) as fh:
        assert json.load(fh) == m1
    # exactly one data file per shard directory, internally sorted
    spark = docs.sparkSession
    for k in (0, N // 2, N - 1):
        files = [f for f in glob.glob(os.path.join(path, f"shard={k}", "*"))
                 if f.endswith(".parquet")]
        assert len(files) == 1, f"shard {k}: {files}"
        rows = spark.read.parquet(files[0]).collect()
        keys = [r["__shuffle_key"] for r in rows]
        assert keys == sorted(keys)
        assert len(rows) == m1["shards"][k]["rows"]
    # rerun overwrites with identical membership
    m2 = export_shards.write_shards(docs, path, "doc_id", N, seed=SEED)
    assert m2 == m1


def test_n_shards_validation(docs):
    with pytest.raises(ValueError):
        export_shards.assign_shards(docs, "doc_id", 0)


def test_tiny_corpus_fewer_rows_than_shards(spark, tmp_path):
    """n_rows < n_shards: assignment still covers sizes <= 1, the
    manifest lists ALL N shards (empty ones rows=0), and the written
    layout reads back complete."""
    docs = spark.range(5).select(F.col("id").alias("doc_id"))
    a = export_shards.assign_shards(docs, "doc_id", N, seed=SEED)
    sizes = [r["count"] for r in a.groupBy("shard").count().collect()]
    assert sum(sizes) == 5 and max(sizes) == 1
    m = export_shards.write_shards(docs, str(tmp_path / "tiny"),
                                   "doc_id", N, seed=SEED)
    assert len(m["shards"]) == N
    assert sum(s["rows"] for s in m["shards"]) == 5
    assert m["total_rows"] == 5
    back = spark.read.parquet(str(tmp_path / "tiny"))
    assert back.count() == 5


def test_assignment_order_matches_shard_boundaries(docs):
    """Shards are CONTIGUOUS slices of the seeded permutation: the
    max key in shard k is below the min key in shard k+1 (ties on id
    respected) — the property a sequential dataloader relies on."""
    a = export_shards.assign_shards(docs, "doc_id", N, seed=SEED,
                                    key_col="k")
    bounds = (a.groupBy("shard")
              .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
              .orderBy("shard").collect())
    for prev, cur in zip(bounds, bounds[1:]):
        assert prev["hi"] <= cur["lo"]


def test_weight_balanced_shards_bound_and_blocks(spark):
    # 100 docs with weights spanning two orders of magnitude; the
    # serpentine guarantee: every n-row block of the sorted order
    # hands each shard exactly one row, and shard totals differ by
    # at most the max single weight.
    n_sh = 4
    rows = [(i, (i * 37) % 997 + 1) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, wt int")
    a = export_shards.assign_shards_weight_balanced(
        df, "id", "wt", n_sh).collect()
    # per-block coverage: reconstruct positions from (wt desc, id)
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    shard_of = {r["id"]: r["shard"] for r in a}
    for b in range(len(order) // n_sh):
        block = {shard_of[order[b * n_sh + o][0]] for o in range(n_sh)}
        assert block == set(range(n_sh))
    totals = {}
    for i, wt in rows:
        totals[shard_of[i]] = totals.get(shard_of[i], 0) + wt
    assert max(totals.values()) - min(totals.values()) <= max(
        wt for _, wt in rows)


def test_weight_balanced_deterministic_across_partitionings(spark):
    rows = [(i, (i * 13) % 51 + 1) for i in range(60)]
    df = spark.createDataFrame(rows, "id long, wt int")
    a = export_shards.assign_shards_weight_balanced(
        df.repartition(3), "id", "wt", 5)
    b = export_shards.assign_shards_weight_balanced(
        df.repartition(11), "id", "wt", 5)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_weight_balanced_no_single_partition_exchange(spark):
    """The weight-balanced variant keeps the equal-row form's scale
    shape: the row side range-partitions on the sort key — no
    SinglePartition exchange anywhere in the row path (the offsets
    window is the partitions-sized side)."""
    rows = [(i, i % 7 + 1) for i in range(50)]
    df = spark.createDataFrame(rows, "id long, wt int")
    a = export_shards.assign_shards_weight_balanced(df, "id", "wt", 4)
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_weight_balanced_writer_layout_manifest_balance(spark, tmp_path):
    import json as _json

    rows = [(i, (i * 37) % 997 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, wt int")
    path = str(tmp_path / "wshards")
    m = export_shards.write_shards_weight_balanced(df, path, "id",
                                                   "wt", 4)
    # manifest totals conserve the corpus
    assert m["total_rows"] == 200
    assert m["total_weight"] == sum(w for _, w in rows)
    # balance bound holds and is verifiable FROM the manifest alone
    weights = [s["weight"] for s in m["shards"]]
    assert max(weights) - min(weights) <= max(w for _, w in rows)
    # one data file per shard dir; read-back agrees with the manifest
    for k in range(4):
        files = [f for f in os.listdir(os.path.join(path, f"shard={k}"))
                 if f.endswith(".parquet")]
        assert len(files) == 1
    back = (spark.read.parquet(path)
            .groupBy("shard").agg(F.count("*").alias("n"),
                                  F.sum("wt").alias("w")).collect())
    got = {int(r["shard"]): (r["n"], r["w"]) for r in back}
    assert got == {s["shard"]: (s["rows"], s["weight"])
                   for s in m["shards"]}
    # disk manifest round-trips
    disk = _json.load(open(os.path.join(path, "_MANIFEST.json")))
    assert disk == m


def test_webdataset_shards_deterministic_and_readable(spark, tmp_path):
    """Tar bytes are identical across reruns (pinned USTAR metadata),
    members stream back in id order with exact content, and the
    closed-form framing math matches the real file size."""
    import os
    import tarfile

    from nosql_join_stream_spark.operators.export_shards import \
        write_webdataset_shards

    df = spark.createDataFrame(
        [(i, f"sample {i} " + "x" * (i * 7 % 300)) for i in range(37)],
        "doc_id long, text string")
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    s1 = {r.shard: r for r in
          write_webdataset_shards(df, d1, "doc_id", "text", 5).collect()}
    s2 = {r.shard: r for r in
          write_webdataset_shards(df, d2, "doc_id", "text", 5).collect()}
    assert set(s1) == set(s2) == set(range(5))
    for k in s1:
        assert s1[k].tar_sha == s2[k].tar_sha          # byte-identical
        p = os.path.join(d1, f"shard-{k:05d}.tar")
        assert os.path.getsize(p) == s1[k].tar_bytes
        with tarfile.open(p) as tf:
            names = [m.name for m in tf]
            ids = [int(n.split(".")[0]) for n in names]
            assert ids == sorted(ids)                   # id order
            assert all(i % 5 == k for i in ids)
            m0 = tf.extractfile(names[0]).read().decode()
            assert m0.startswith(f"sample {ids[0]} ")
        # framing closed form: headers + padded data + end + record
        total = sum(
            512 + (len((f"sample {i} " + "x" * (i * 7 % 300))
                       .encode()) + 511) // 512 * 512
            for i in ids)
        assert s1[k].tar_bytes == ((total + 1024 + 10239)
                                   // 10240) * 10240
    with __import__("pytest").raises(ValueError):
        write_webdataset_shards(df, str(tmp_path / "c"), "doc_id",
                                "text", 0)


@pytest.mark.parametrize("ext", ["tar", "tfrecord"])
def test_container_stale_shards_cleared(spark, tmp_path, ext):
    """Re-exporting into the same directory with fewer shards must
    not leave stale shard files behind (a zero-row group writes no
    file, so leftovers would corrupt the read side) — for both
    containers, which share one writer."""
    import glob
    import os

    from nosql_join_stream_spark.operators.export_shards import (
        read_tfrecord_shards, read_webdataset_shards,
        write_tfrecord_shards, write_webdataset_shards)

    write, read = {"tar": (write_webdataset_shards, read_webdataset_shards),
                   "tfrecord": (write_tfrecord_shards,
                                read_tfrecord_shards)}[ext]
    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(12)], "doc_id long, text string")
    d = str(tmp_path / "re")
    write(df, d, "doc_id", "text", 8).collect()
    assert len(glob.glob(os.path.join(d, f"shard-*.{ext}"))) == 8
    write(df, d, "doc_id", "text", 3).collect()
    assert len(glob.glob(os.path.join(d, f"shard-*.{ext}"))) == 3
    back = read(spark, d)
    assert back.count() == 12


# --- TFRecord shards (r15) --------------------------------------------------

def test_crc32c_published_vector_and_mask():
    from nosql_join_stream_spark.operators.export_shards import (
        _crc32c, _masked_crc)
    # the Castagnoli check vector (RFC 3720 / every crc32c impl)
    assert _crc32c(b"123456789") == 0xE3069283
    assert _crc32c(b"") == 0
    # mask = rot15 + constant, mod 2^32 (TFRecord spec)
    c = _crc32c(b"abc")
    assert _masked_crc(b"abc") == \
        ((((c >> 15) | (c << 17)) & 0xFFFFFFFF) + 0xA282EAD8) \
        & 0xFFFFFFFF


def test_tfrecord_frame_roundtrip_and_loud_corruption():
    from nosql_join_stream_spark.operators.export_shards import (
        tfrecord_frame, tfrecord_unframe)
    recs = [b"", b"x", b"hello world" * 40]
    buf = b"".join(tfrecord_frame(r) for r in recs)
    assert tfrecord_unframe(buf) == recs
    # flip one payload byte → data-crc failure, loud
    bad = bytearray(buf)
    bad[12] ^= 0xFF if len(recs[0]) else 0x00
    bad[len(tfrecord_frame(b"")) + 12] ^= 0xFF
    with pytest.raises(ValueError, match="crc"):
        tfrecord_unframe(bytes(bad))
    # truncation → loud
    with pytest.raises(ValueError, match="truncated"):
        tfrecord_unframe(buf[:-2])


def test_tfrecord_shards_deterministic_framing_and_roundtrip(
        spark, tmp_path):
    import hashlib
    import os

    from nosql_join_stream_spark.operators.export_shards import (
        read_tfrecord_shards, write_tfrecord_shards)

    df = spark.createDataFrame(
        [(i, f"content-{i} " * (i % 5 + 1)) for i in range(37)],
        "doc_id long, text string")
    out = str(tmp_path / "tfr")
    s1 = {r.shard: r for r in write_tfrecord_shards(
        df, out, "doc_id", "text", n_shards=4).collect()}
    # framing arithmetic: file size == sum(16 + 13 + len(content))
    for shard, r in s1.items():
        path = os.path.join(out, f"shard-{shard:05d}.tfrecord")
        assert os.path.getsize(path) == r.file_bytes
        assert r.file_bytes == r.payload_bytes + 16 * r.n_records
    # byte determinism: rewrite → identical shas
    sha1 = {s: r.file_sha for s, r in s1.items()}
    s2 = {r.shard: r.file_sha for r in write_tfrecord_shards(
        df, out, "doc_id", "text", n_shards=4).collect()}
    assert s2 == sha1
    # a stale shard from a different n_shards run must not survive
    write_tfrecord_shards(df, out, "doc_id", "text", n_shards=2) \
        .count()
    assert sorted(f for f in os.listdir(out)
                  if f.endswith(".tfrecord")) == \
        ["shard-00000.tfrecord", "shard-00001.tfrecord"]
    back = read_tfrecord_shards(spark, out)
    rows = {r.id: (r.shard, r.content) for r in back.collect()}
    src = {r.doc_id: r.text for r in df.collect()}
    assert set(rows) == set(src)
    assert all(rows[i] == (i % 2, src[i]) for i in rows)


def test_tfrecord_reader_raises_on_flipped_byte(spark, tmp_path):
    """The shard reader verifies both crcs per record: one flipped
    payload byte in a written shard fails the collect, never a silent
    short read."""
    import os

    from nosql_join_stream_spark.operators.export_shards import (
        read_tfrecord_shards, write_tfrecord_shards)

    df = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string")
    out = str(tmp_path / "tfr")
    write_tfrecord_shards(df, out, "doc_id", "text", n_shards=1).collect()
    path = os.path.join(out, "shard-00000.tfrecord")
    raw = bytearray(open(path, "rb").read())
    raw[12] ^= 0xFF                      # first record's first data byte
    with open(path, "wb") as fh:
        fh.write(bytes(raw))
    with pytest.raises(Exception, match="bad data crc"):
        read_tfrecord_shards(spark, out).collect()
