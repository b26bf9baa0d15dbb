"""Deterministic global shuffle → fixed-size shard export — the
training-data handoff primitive (the dataloader contract).

A training run wants the corpus as N equal-row shards in a SEEDED,
reproducible global order: re-running the export byte-identically, on
any engine, with no RNG state to ship.  The reference stops at sinks
(SURVEY §2 S10 — Process/Observable writers, storage.scala:593-658);
this is the beyond-reference export tier on top of them.

Scale shape (the whole point):

- The total order is a HASH order — ``sha2(seed || ':' || id)`` — so
  the "shuffle" is stateless and replayable (same trick as
  sampling.order_hash, seeded).
- No global single-partition sort anywhere: positions come from the
  two-pass dense index (range-partition by hash key + within-
  partition ``row_number`` + a partitions-sized broadcast offset
  table — combinators._with_pos's shape, with the corpus TOTAL riding
  the same tiny broadcast so shard arithmetic adds zero passes).
- Shard of a row = ``(pos * n_shards) DIV total`` in pure integer
  arithmetic (no double rounding at 10^15 rows) — shard sizes differ
  by at most 1, remainder rows spread evenly instead of front-loaded.
- The writer hash-repartitions on the shard id, so every shard's rows
  land in exactly ONE task → exactly one parquet file per
  ``shard=K/`` directory, each internally sorted by the shuffle key —
  a dataloader can stream shard K with zero further shuffling.
- The manifest is driver-side but bounded by n_shards (never by
  rows): shard → row count, plus the (seed, n_shards, total) triple a
  consumer needs to verify the contract.

One body per step: both balancing rules (equal-row hash order and
weight serpentine) take their positions from ``_dense_positions`` and
write through ``_write_parquet_shards``; both containers (WebDataset
tar and TFRecord) share one writer, ``_write_container_shards``, and
one reader, ``_read_container_shards`` — each container contributes
only its encoder and its member walk.
"""

from __future__ import annotations

import glob
import json
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def seeded_order_hash(id_col: Column, seed: int) -> Column:
    """60-bit seeded ordering hash: first 15 hex chars of
    ``sha256(seed || ':' || id)``.  Identical formula in DuckDB
    (``cast('0x' || substr(sha256(seed || ':' || id::varchar),1,15)
    as bigint)``) so seeded orders replay bit-for-bit across engines;
    different seeds give independent permutations (epoch reshuffles
    without RNG state)."""
    tagged = F.concat(F.lit(f"{seed}:"), id_col.cast("string"))
    return F.conv(F.substring(F.sha2(tagged, 256), 1, 15),
                  16, 10).cast("long")


def _dense_positions(df: DataFrame, order: list[Column]) -> DataFrame:
    """df + ``__p0`` (the row's 0-based position in ``order``) and
    ``__total`` (the corpus row count): the two-pass dense index both
    balancing rules share.  One range partition on ``order``, a
    within-partition ``row_number``, and a partitions-sized offset
    table that broadcasts with the grand total riding along — no
    global single-partition sort, and shard arithmetic adds no pass."""
    d = (df.repartitionByRange(*order)
           .sortWithinPartitions(*order)
           .withColumn("__pid", F.spark_partition_id()))
    w_in = Window.partitionBy("__pid").orderBy(*order)
    d = d.withColumn("__rn", F.row_number().over(w_in))
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1)
    w_all = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    offsets = (d.groupBy("__pid").agg(F.count("*").alias("__n"))
               .withColumn("__off", F.coalesce(F.sum("__n").over(w_off),
                                               F.lit(0)))
               .withColumn("__total", F.sum("__n").over(w_all))
               .select("__pid", "__off", "__total"))
    return (d.join(F.broadcast(offsets), "__pid")
             .withColumn("__p0", F.col("__off") + F.col("__rn") - 1)
             .drop("__pid", "__rn", "__off"))


def _write_parquet_shards(assigned: DataFrame, path: str, n_shards: int,
                          sort: list, totals: dict, manifest: dict) -> dict:
    """Write ``assigned`` (it carries a ``shard`` column) as hive
    ``shard=K/`` parquet, one file per shard sorted by ``sort``, then
    the ``_MANIFEST.json`` both parquet writers share: ``manifest``
    plus, per shard and as ``total_<name>``, each aggregate in
    ``totals`` (name -> Column) read back from the written files.

    The repartition is BY SHARD ID, so each shard's rows coalesce
    into one task → one file; the per-task sort leads with the shard
    so a task that happens to hold two shards (hash collision) still
    writes each file internally ordered.  A corpus smaller than
    n_shards leaves some shards EMPTY (no hive dir is written for
    them) — the manifest still lists every shard 0..N-1, with zeros,
    so a dataloader expecting N entries never sees a missing shard.
    """
    (assigned
     .repartition(n_shards, F.col("shard"))
     .sortWithinPartitions("shard", *sort)
     .write.mode("overwrite").partitionBy("shard")
     .parquet(path))
    rows = (assigned.sparkSession.read.parquet(path)
            .groupBy(F.col("shard").cast("int").alias("shard"))
            .agg(*[c.alias(k) for k, c in totals.items()])
            .orderBy("shard").collect())  # bounded: n_shards rows
    per = {int(r["shard"]): r for r in rows}
    shards = [{"shard": k, **{c: int(per[k][c]) if k in per else 0
                              for c in totals}}
              for k in range(n_shards)]
    manifest = dict(manifest, format="parquet/hive shard=K",
                    n_shards=n_shards, shards=shards,
                    **{f"total_{c}": sum(s[c] for s in shards)
                       for c in totals})
    with open(os.path.join(path, "_MANIFEST.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return manifest


def assign_shards(df: DataFrame, id_col: str, n_shards: int,
                  seed: int = 0, shard_col: str = "shard",
                  key_col: str | None = None) -> DataFrame:
    """df + ``shard_col`` (0..n_shards-1): the row's shard under the
    seeded global shuffle.  Pure function of (id, seed, n_shards, the
    corpus id-set) — no RNG, no timestamps, so two runs (or two
    engines) agree row-for-row.

    Equal sizes by construction: with 0-based hash-order position p
    and corpus total t, ``shard = (p * n_shards) DIV t`` — every shard
    gets floor(t/n) or ceil(t/n) rows.  Integer DIV, not float floor:
    at 10^15 row-shard products a double mantissa already rounds.

    One wide shuffle (the range partition); the offset/total side is
    a partitions-sized aggregate that broadcasts.  If ``key_col`` is
    given the 60-bit shuffle key survives in the output (the writer
    sorts shards by it).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    kc = key_col or "__shuffle_key"
    d = _dense_positions(
        df.withColumn(kc, seeded_order_hash(F.col(id_col), seed)),
        [F.col(kc), F.col(id_col)])
    d = (d.withColumn(shard_col,
                      F.expr(f"CAST((__p0 * {int(n_shards)}) DIV __total "
                             f"AS INT)"))
          .drop("__total", "__p0"))
    return d if key_col else d.drop(kc)


def write_shards(df: DataFrame, path: str, id_col: str, n_shards: int,
                 seed: int = 0) -> dict:
    """Export ``df`` as ``n_shards`` equal-row parquet shards under
    ``path`` (hive layout ``shard=K/``), one file per shard, rows
    inside each shard sorted by the seeded shuffle key — then write a
    ``_MANIFEST.json`` (shard → rows, plus the seed/n_shards/total a
    consumer verifies against).  Returns the manifest dict.
    Deterministic end to end: rerunning overwrites with identical
    shard membership and order.
    """
    kc = "__shuffle_key"
    assigned = assign_shards(df, id_col, n_shards, seed=seed,
                             key_col=kc)
    return _write_parquet_shards(
        assigned, path, n_shards, [kc, id_col],
        {"rows": F.count("*")},
        {"seed": seed, "id_col": id_col,
         "order": f"sha256('{seed}:' || {id_col}) first-15-hex, "
                  f"ties on {id_col}"})


def assign_shards_weight_balanced(df: DataFrame, id_col: str,
                                  weight_col: str, n_shards: int,
                                  shard_col: str = "shard") -> DataFrame:
    """df + ``shard_col``: shards balanced on a per-row WEIGHT (token
    counts), not row counts — the dataloader contract when documents
    vary 100x in length and equal-row shards would skew step times.

    Serpentine (boustrophedon) assignment over the weight-sorted
    order: rows sort by (weight DESC, id); 0-based position p maps to
    block b = p DIV n and offset o = p MOD n; shard = o on even
    blocks, n-1-o on odd blocks.  Each block hands every shard
    exactly one row, and the direction flip pairs each block's
    heaviest rows with the previous block's lightest, so shard totals
    differ by at most one block's internal spread — in particular
    max(total) - min(total) <= max(weight).  Deterministic: pure
    integer arithmetic on the dense rank, no RNG.

    Scale shape: identical to assign_shards (the same dense index).
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    n = int(n_shards)
    d = _dense_positions(df, [F.col(weight_col).desc(),
                              F.col(id_col).asc()])
    return (d.withColumn(shard_col,
                         F.expr(f"CAST(IF((__p0 DIV {n}) % 2 = 0, "
                                f"__p0 % {n}, {n - 1} - __p0 % {n}) "
                                f"AS INT)"))
             .drop("__total", "__p0"))


def write_shards_weight_balanced(df: DataFrame, path: str, id_col: str,
                                 weight_col: str, n_shards: int) -> dict:
    """Export ``df`` as ``n_shards`` WEIGHT-balanced parquet shards
    (hive ``shard=K/`` layout, one file per shard, rows inside sorted
    by (weight DESC, id) — heaviest first, the schedule a length-
    bucketing dataloader wants), plus a ``_MANIFEST.json`` recording
    per-shard row counts AND weight totals so a consumer can verify
    the balance bound (max − min ≤ max single weight) without
    re-scanning.  Deterministic: rerunning overwrites with identical
    shard membership and order."""
    assigned = assign_shards_weight_balanced(df, id_col, weight_col,
                                             n_shards)
    return _write_parquet_shards(
        assigned, path, n_shards,
        [F.col(weight_col).desc(), F.col(id_col)],
        {"rows": F.count("*"),
         "weight": F.sum(F.col(weight_col).cast("long"))},
        {"id_col": id_col, "weight_col": weight_col,
         "order": f"({weight_col} DESC, {id_col}) serpentine"})


def _write_container_shards(df: DataFrame, path: str, id_col: str,
                            content_col: str, n_shards: int, ext: str,
                            encode, names: tuple[str, str, str, str]):
    """The one container writer behind the tar and TFRecord exports.

    Shard = ``id % n_shards``; stale ``shard-*.{ext}`` files from
    prior runs are cleared first (a shard group with zero rows writes
    no file, so leftovers from a different n_shards/corpus would be
    silently picked up by the reader).  One ``applyInPandas`` task
    per shard sorts its rows by id, calls ``encode(ids, contents) ->
    (bytes, payload_bytes)`` (an operator-module function, so it
    pickles by reference) and atomically publishes
    ``shard-{K:05d}.{ext}`` (tmp + rename) — nothing passes through
    the driver.  Returns per-shard stats: ``shard``, then the four
    ``names`` (record count, payload bytes, file bytes, file sha)
    around a position-weighted ``ids_checksum`` that pins order.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    os.makedirs(path, exist_ok=True)
    for stale in glob.glob(os.path.join(path, f"shard-*.{ext}")):
        os.remove(stale)

    assigned = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(content_col).cast("string").alias("content"),
        F.pmod(F.col(id_col), F.lit(n_shards)).cast("int").alias("shard"))
    n_rec, n_payload, n_file, sha = names

    def build(key, pdf):
        import hashlib

        import pandas as _pd

        shard = int(key[0])
        pdf = pdf.sort_values("id")
        raw, payload_bytes = encode(
            pdf["id"], ["" if c is None else str(c) for c in pdf["content"]])
        out = os.path.join(path, f"shard-{shard:05d}.{ext}")
        tmp = out + f".tmp-{os.getpid()}"
        with open(tmp, "wb") as fh:
            fh.write(raw)
        os.replace(tmp, out)                  # atomic publish
        checksum = sum((i + 1) * int(d)
                       for i, d in enumerate(pdf["id"]))
        return _pd.DataFrame([{
            "shard": shard,
            n_rec: len(pdf),
            n_payload: int(payload_bytes),
            "ids_checksum": int(checksum),
            n_file: len(raw),
            sha: hashlib.sha256(raw).hexdigest(),
        }])

    return (assigned.groupBy("shard")
            .applyInPandas(build,
                           schema=f"shard int, {n_rec} long, "
                                  f"{n_payload} long, ids_checksum long, "
                                  f"{n_file} long, {sha} string"))


def _read_container_shards(spark, path: str, ext: str, members):
    """The one container reader behind the tar and TFRecord loaders:
    the ``binaryFile`` source lists and splits ``shard-*.{ext}``
    files across tasks (one task per shard), and a ``mapInPandas``
    kernel walks each file with ``members(buf)`` — an operator-module
    function yielding ``(id, content)`` — emitting one (id, shard,
    content) row per member.  Nothing passes through the driver;
    path-glob pruning applies before any byte is read."""

    def op(batches):
        import pandas as _pd

        for pdf in batches:
            ids, contents, shards = [], [], []
            for fname, data in zip(pdf["path"], pdf["content"]):
                base = str(fname).rsplit("/", 1)[-1]
                shard = int(base.split("-")[1].split(".")[0])
                for rid, content in members(bytes(data)):
                    ids.append(rid)
                    contents.append(content)
                    shards.append(shard)
            yield _pd.DataFrame({
                "id": _pd.Series(ids, dtype="int64"),
                "shard": _pd.Series(shards, dtype="int32"),
                "content": contents})

    return (spark.read.format("binaryFile")
            .option("pathGlobFilter", f"shard-*.{ext}").load(path)
            .select("path", "content")
            .mapInPandas(op, schema="id long, shard int, content string"))


def _tar_encode(ids, contents) -> tuple[bytes, int]:
    """USTAR archive of ``{id:012d}.txt`` members with pinned metadata
    (mtime 0, uid/gid 0, mode 0644, empty uname/gname): byte-identical
    on every rerun.  Payload bytes = the members' UTF-8 sizes."""
    import io
    import tarfile

    buf = io.BytesIO()
    payload = 0
    with tarfile.open(fileobj=buf, mode="w",
                      format=tarfile.USTAR_FORMAT) as tf:
        for did, content in zip(ids, contents):
            data = content.encode("utf-8")
            payload += len(data)
            info = tarfile.TarInfo(name=f"{int(did):012d}.txt")
            info.size = len(data)
            info.mtime = 0
            info.uid = info.gid = 0
            info.mode = 0o644
            info.uname = info.gname = ""
            tf.addfile(info, io.BytesIO(data))
    return buf.getvalue(), payload


def _tar_members(buf: bytes):
    """(id, content) per member of one tar shard, in archive order."""
    import io
    import tarfile

    with tarfile.open(fileobj=io.BytesIO(buf)) as tf:
        for m in tf:
            yield (int(m.name.split(".")[0]),
                   tf.extractfile(m).read().decode("utf-8"))


def write_webdataset_shards(df: DataFrame, path: str, id_col: str,
                            content_col: str, n_shards: int):
    """Export ``df`` as WebDataset-style ``.tar`` shards — the
    standard container multimodal/LLM training loaders stream
    (one member per sample, shards consumed whole by one worker).

    Layout: ``shard-{K:05d}.tar`` for ``K = id % n_shards``; members
    named ``{id:012d}.txt`` carrying the UTF-8 content, ordered by id
    within the shard.  Byte-deterministic: USTAR format with pinned
    metadata (mtime 0, uid/gid 0, mode 0644, empty uname/gname), so
    re-running produces IDENTICAL tar bytes (sha-asserted in tests) —
    the reproducible-export contract of the parquet shard writer
    extended to the tar container.

    Scale shape: one ``applyInPandas`` task per shard builds and
    atomically publishes its tar (tmp + rename) — shards parallelize
    across executors, nothing passes through the driver; WebDataset
    sizes shards (100s of MB) exactly so this grouping is the natural
    unit.  On a cluster the open() targets shared storage; the
    framing math is identical.

    Returns a DataFrame of per-shard stats, all exact int64 and
    closed-form mirrorable: member count, member byte total, a
    position-weighted id checksum (pins member ORDER), and the tar
    byte size — which equals ``roundup(sum(512 + roundup(sz,512))
    + 1024, 10240)`` (USTAR header + data padding + end-of-archive
    blocks + record padding), so even the container FRAMING is
    oracle-checkable.  ``tar_sha`` is the shard content address
    (manifest / cache key; not oracle-comparable, dropped by the
    registry query).
    """
    return _write_container_shards(
        df, path, id_col, content_col, n_shards, "tar", _tar_encode,
        ("n_members", "member_bytes", "tar_bytes", "tar_sha"))


def read_webdataset_shards(spark, path: str):
    """Ingest WebDataset-style ``.tar`` shards back into (id, shard,
    content) rows — the loader side of :func:`write_webdataset_shards`,
    so the export loop is closed inside the engine (write -> read ->
    verify).  One task per shard untars it in memory."""
    return _read_container_shards(spark, path, "tar", _tar_members)


# --- TFRecord shards (r15) --------------------------------------------------

_CRC32C_POLY = 0x82F63B78          # Castagnoli, reflected
_CRC32C_TABLE: list[int] | None = None


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli) — the TFRecord integrity checksum.
    Table-driven pure python; pinned against the published check
    vector crc32c(b"123456789") == 0xE3069283 in tests."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        tbl = []
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ _CRC32C_POLY if c & 1 else c >> 1
            tbl.append(c)
        _CRC32C_TABLE = tbl
    crc = 0xFFFFFFFF
    tbl = _CRC32C_TABLE
    for b in data:
        crc = (crc >> 8) ^ tbl[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    """TFRecord's masked CRC: rotate right 15, add the mask constant
    (the published framing spec)."""
    c = _crc32c(data)
    return (((c >> 15) | (c << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def tfrecord_frame(data: bytes) -> bytes:
    """One TFRecord: u64le length, u32le masked-crc(length), data,
    u32le masked-crc(data) — 16 framing bytes per record."""
    import struct

    ln = struct.pack("<Q", len(data))
    return (ln + struct.pack("<I", _masked_crc(ln)) + data
            + struct.pack("<I", _masked_crc(data)))


def tfrecord_unframe(buf: bytes) -> list[bytes]:
    """Walk a TFRecord stream, verifying BOTH crcs per record; raises
    ValueError on any framing/checksum corruption (loud, the codec
    discipline)."""
    import struct

    out = []
    pos = 0
    n = len(buf)
    while pos < n:
        if n - pos < 12:
            raise ValueError("truncated TFRecord length block")
        ln_raw = buf[pos:pos + 8]
        (ln,) = struct.unpack("<Q", ln_raw)
        (lcrc,) = struct.unpack("<I", buf[pos + 8:pos + 12])
        if lcrc != _masked_crc(ln_raw):
            raise ValueError(f"bad length crc at offset {pos}")
        if n - pos - 12 < ln + 4:
            raise ValueError("truncated TFRecord data block")
        data = buf[pos + 12:pos + 12 + ln]
        (dcrc,) = struct.unpack(
            "<I", buf[pos + 12 + ln:pos + 16 + ln])
        if dcrc != _masked_crc(data):
            raise ValueError(f"bad data crc at offset {pos}")
        out.append(data)
        pos += 16 + ln
    return out


def _tfrecord_encode(ids, contents) -> tuple[bytes, int]:
    """One framed record ``{id:012d}\\t{content}`` per row; payload
    bytes = the records' data lengths (framing excluded)."""
    datas = [f"{int(did):012d}\t{content}".encode("utf-8")
             for did, content in zip(ids, contents)]
    return (b"".join(tfrecord_frame(d) for d in datas),
            sum(len(d) for d in datas))


def _tfrecord_members(buf: bytes):
    """(id, content) per record of one TFRecord shard, both crcs
    verified (:func:`tfrecord_unframe` raises on corruption)."""
    for rec in tfrecord_unframe(buf):
        rid, _, content = rec.decode("utf-8").partition("\t")
        yield int(rid), content


def write_tfrecord_shards(df: DataFrame, path: str, id_col: str,
                          content_col: str, n_shards: int):
    """Export ``df`` as TFRecord shards — the other canonical
    training-data container next to WebDataset tar: fixed 16-byte
    framing with TWO masked CRC-32Cs per record, streamed
    sequentially by every TF/JAX input pipeline.

    Record payload contract: ``{id:012d}\\t{content}`` UTF-8 — the
    sample framing is the caller's schema (tf.train.Example proto is
    one choice; the tab-framed record keeps the container math
    closed-form), so each record's data length is exactly
    ``13 + octet_length(content)`` and a shard's file size is
    ``SUM(16 + 13 + octet_length(content))`` — the container FRAMING
    is oracle-checkable just like the tar writer's.

    Same writer as write_webdataset_shards (shard = id % n_shards,
    one applyInPandas task per shard, id-ordered records, stale
    shards cleared, atomic tmp+rename publish, byte-deterministic
    output).  Returns per-shard stats (counts, payload bytes,
    position-weighted id checksum, file bytes, sha).
    """
    return _write_container_shards(
        df, path, id_col, content_col, n_shards, "tfrecord",
        _tfrecord_encode,
        ("n_records", "payload_bytes", "file_bytes", "file_sha"))


def read_tfrecord_shards(spark, path: str):
    """Ingest TFRecord shards back into (id, shard, content) rows —
    the loader side of :func:`write_tfrecord_shards`, closing the
    export loop in-engine.  Same reader as the tar loader, with BOTH
    crcs verified per record; any corruption raises, never silently
    truncates."""
    return _read_container_shards(spark, path, "tfrecord",
                                  _tfrecord_members)
