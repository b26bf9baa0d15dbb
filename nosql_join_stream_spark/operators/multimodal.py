"""Multimodal columns: image/audio/video as opaque binary + metadata.

Beyond-reference (SURVEY.md M6).  Design for 100 TB multimodal
training data:

- payloads are ``binary`` columns (or object-store URIs for oversized
  blobs) with a typed metadata struct alongside;
- decode / feature-extract / resize / frame-sample run as Arrow-batched
  ``mapInPandas`` stages — Python touches each batch once, schema is
  explicit, partitioning is preserved (no shuffle);
- codec work: PIL/ffmpeg/torchaudio are NOT in this container, but
  PNG decodes FOR REAL everywhere via the pure-stdlib codec
  (:mod:`png_codec`, r9 — zlib+struct, bit-identical luma to PIL's
  ``convert('L')``); the decode/resize branches try PIL first, fall
  back to the stdlib PNG path, and only a non-PNG payload without
  PIL raises the clearly-marked stub.  The ``multimodal_decode_png``
  registry query closes the loop with a closed-form pixel-mean
  oracle over genuinely encoded-and-decoded images.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nosql_join_stream_spark.sinks import artifact_dir

MEDIA_SCHEMA = (
    "doc_id long, payload binary, media_type string, "
    "width int, height int, n_frames int"
)

FEATURE_SCHEMA = (
    "doc_id long, media_type string, byte_len long, sha256 string, "
    "width int, height int, mean_luma double"
)


def synthesize_media(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Build a deterministic fake media table from the documents table:
    payload = utf-8 bytes of the text (stands in for encoded pixels),
    metadata derived from content length.  Real pipelines read these
    columns from parquet/lance directly."""
    payload = F.encode(F.col(text_col), "UTF-8")
    n = F.length(F.col(text_col))
    return df.select(
        F.col(id_col).alias("doc_id"),
        payload.alias("payload"),
        F.when(n % 3 == 0, "image/png").when(n % 3 == 1, "audio/wav")
         .otherwise("video/mp4").alias("media_type"),
        (n % 640 + 16).cast("int").alias("width"),
        (n % 480 + 16).cast("int").alias("height"),
        (n % 24 + 1).cast("int").alias("n_frames"),
    )


def payload_dedup(media: DataFrame, payload_col: str = "payload",
                  id_col: str = "doc_id") -> DataFrame:
    """Content-addressed EXACT dedup of binary media payloads — the
    first dedup pass every multimodal pipeline runs (identical images
    and clips are re-crawled constantly; byte-identical payloads are
    cheap to kill before any decode).  One hash-aggregate shuffle on
    the SHA-256 digest of the bytes: the digest (32 B) travels, the
    payload (MBs at real scale) never does.  Returns one row per
    distinct payload: (payload_sha, keep_id = smallest id, n_copies,
    media_type).  At 100 TB the same digest column doubles as the
    content-addressed storage key."""
    return (media.groupBy(F.sha2(F.col(payload_col), 256)
                           .alias("payload_sha"))
                 .agg(F.min(id_col).alias("keep_id"),
                      F.count("*").alias("n_copies"),
                      F.min("media_type").alias("media_type")))


def decode_image(payload: bytes) -> "object":
    """Decode image bytes to a grayscale ndarray.  REAL on two
    branches: PIL when importable (any format), else the in-repo
    codecs (:mod:`png_codec` — PNG via zlib+struct, GIF via
    public-spec LZW, BMP and PGM/PPM via struct alone, all
    bit-identical luma to PIL's ``convert('L')``; :mod:`jpeg_codec` —
    baseline JPEG via Huffman + the same fixed-point islow IDCT
    libjpeg runs, r12), so every mainstream raster decodes anywhere
    Python+numpy runs, including this PIL-less sandbox.  Only exotic
    containers (progressive JPEG, JPEG 2000, WebP…) without PIL raise
    the clearly-marked stub.  The Spark-side contract (bytes in,
    ndarray out) is identical on every branch."""
    return _gray_decoder()(payload)


def _gray_decoder():
    """Return ``decode(payload) -> ndarray``, the one PIL-else-stdlib
    grayscale decoder.  Call it on the driver and close an executor op
    over the result: a nested function pickles by value, and its
    imports run at call time, so an executor needs neither this module
    nor an addPyFile — one without the package degrades to the stub
    error, not a deserialization crash."""
    def decode(payload: bytes):
        try:
            from PIL import Image
            import io as _io

            import numpy as _np
            return _np.asarray(Image.open(_io.BytesIO(payload)).convert("L"))
        except ImportError:
            pass
        # stdlib codec fallback (r9, widened r10 to BMP/PGM/PPM): real
        # pixels without PIL
        try:
            from nosql_join_stream_spark.operators import png_codec as _pc
        except ImportError:
            raise NotImplementedError(
                "image decode requires PIL/libvips; not available "
                "here") from None
        return _pc.decode_gray_auto(payload)
    return decode


def extract_features(media: DataFrame, batch_decode: bool = False) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    ``mapInPandas``: one Python round-trip per Arrow batch (not per
    row), partition-preserving, schema-explicit.  With
    ``batch_decode=True`` it decodes REAL pixels when PIL is
    importable on the executors (lib-gated, exercised by a
    conditional pytest that plants a genuine PNG) and raises the
    clearly-marked stub otherwise; the default fake path keeps the
    plumbing testable without codec libs.
    """
    # NOTE: the closure must be fully self-contained (no references to
    # module-level helpers): cloudpickle ships nested definitions by
    # value, so executors need neither this package on sys.path nor an
    # addPyFile — the driver environment can't be assumed to ship it.
    decode = _gray_decoder()

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib as _hl

        import numpy as _np
        import pandas as _pd

        def _luma(b: bytes) -> float:
            return float(sum(b)) / len(b) if b else 0.0

        for pdf in batches:
            payloads = pdf["payload"]
            if batch_decode:
                decoded = payloads.map(decode)
                luma = decoded.map(lambda a: float(a.mean()))
            else:
                luma = payloads.map(_luma)
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "byte_len": payloads.map(len).astype("int64"),
                "sha256": payloads.map(lambda b: _hl.sha256(b).hexdigest()),
                "width": pdf["width"],
                "height": pdf["height"],
                # half-away-from-zero (F.round/ROUND semantics): byte
                # means are rationals that can land on .5 boundaries,
                # where pandas' half-even .round diverges (registry
                # float policy)
                "mean_luma": _np.floor(luma.abs() * 1e6 + 0.5) / 1e6
                             * _np.sign(luma),
            })

    return media.mapInPandas(op, schema=FEATURE_SCHEMA)


def resize_images(media: DataFrame, target_w: int = 128,
                  batch_decode: bool = False) -> DataFrame:
    """Resize plumbing: integer-stride downsample to ``target_w``.

    With ``batch_decode=True``, PNG payloads decode → stride-resize →
    re-encode REAL pixels inside the same mapInPandas stage through
    the repo's stdlib codec (``png_codec``) on every environment;
    non-PNG payloads decode via PIL when importable (then stride and
    re-encode through the SAME stdlib encoder, so output bytes stay
    environment-independent) and raise the marked stub otherwise.
    Both paths share the SAME geometry contract — stride =
    ceil(width / target_w); new dims = ceil(dim / stride) — so the
    fake path's oracle holds for the real one.  The fake path
    (``batch_decode=False``) remains a REAL byte transformation
    (payload' = payload[::stride], byte_len' = ceil(len / stride)).
    Partition-preserving, no shuffle.
    """
    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import math as _math

        import pandas as _pd

        def _resize_real(payload: bytes, w: int, h: int,
                         s: int) -> bytes:
            # one deterministic contract on EVERY branch: decode →
            # grayscale → integer-stride a[::s, ::s] → re-encode
            # through the repo's own PNG encoder.  Stdlib-decodable
            # inputs (PNG/BMP/PGM/PPM) never touch PIL (the stdlib
            # codecs decode them bit-identically to PIL's
            # convert("L")), and inputs decoded by PIL still stride +
            # re-encode through the same encoder — so the output
            # bytes (and any oracle-hashed value derived from them,
            # e.g. byte_len/sha256) do not depend on whether PIL is
            # installed.  Call-time import keeps the pickled closure
            # self-contained.
            try:
                from nosql_join_stream_spark.operators import (
                    png_codec as _pc)
            except ImportError:
                # executor without the package: degrade to the
                # documented stub instead of crashing every payload
                # before PIL is even tried (the same guard
                # _gray_decoder carries — r10 review catch)
                raise NotImplementedError(
                    "image resize requires the nosql_join_stream_spark "
                    "package (stdlib codecs) on the executor; not "
                    "importable here") from None
            try:
                return _pc.encode_gray(
                    _pc.resize_gray(_pc.decode_gray_auto(payload), s))
            except NotImplementedError:
                pass
            try:
                from PIL import Image
                import io as _io
                import numpy as _np2
                a = _np2.asarray(
                    Image.open(_io.BytesIO(payload)).convert("L"),
                    dtype=_np2.uint8)
                return _pc.encode_gray(_pc.resize_gray(a, s))
            except ImportError:
                raise NotImplementedError(
                    "image resize outside the stdlib family "
                    "(PNG/BMP/PGM/PPM) requires PIL/libvips; not "
                    "available here") from None

        for pdf in batches:
            stride = pdf["width"].map(
                lambda w: max(1, _math.ceil(w / target_w)))
            new_w = [_math.ceil(w / s)
                     for w, s in zip(pdf["width"], stride)]
            new_h = [_math.ceil(h / s)
                     for h, s in zip(pdf["height"], stride)]
            if batch_decode:
                payload = [_resize_real(b, w, h, s) for b, w, h, s
                           in zip(pdf["payload"], new_w, new_h, stride)]
            else:
                payload = [b[::s] for b, s in zip(pdf["payload"], stride)]
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "media_type": pdf["media_type"],
                "width": new_w,
                "height": new_h,
                "payload": payload,
                "byte_len": [len(b) for b in payload],
            })

    return media.mapInPandas(
        op, schema="doc_id long, media_type string, width int, height int, "
                   "payload binary, byte_len long")


def sample_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """Frame-sampling plumbing: explode n_frames into frame indices and
    keep every ``every_n``-th — at scale this is where per-frame
    payload slicing (ffmpeg seek) would run inside mapInPandas."""
    return (media
            .withColumn("frame_idx",
                        F.explode(F.sequence(F.lit(0), F.col("n_frames") - 1)))
            .filter(F.col("frame_idx") % every_n == 0)
            .select("doc_id", "media_type", "frame_idx"))


def chunk_payload(media: DataFrame, chunk_bytes: int = 64) -> DataFrame:
    """Fixed-window byte chunking of a binary payload column — how
    audio/video gets segmented for windowed feature extraction
    (spectrogram frames, VAD windows) before the per-chunk decode UDF.

    Pure JVM expressions: explode(sequence) fans each row into
    ceil(len/chunk) rows; substring slices the binary; sha2 gives a
    per-chunk content address (dedup/caching key).  Row-local — no
    shuffle, scales as a scan; the fan-out factor is len/chunk, which
    parquet row-group sizing already bounds.

    Returns (doc_id, chunk_id, byte_off, chunk_len, chunk_sha).
    """
    cs = int(chunk_bytes)
    if cs < 1:
        raise ValueError(f"chunk_bytes must be >= 1, got {chunk_bytes}")
    n_chunks = F.ceil(F.octet_length("payload") / F.lit(float(cs)))
    chunked = media.select(
        "doc_id", "payload",
        F.explode(F.sequence(F.lit(0).cast("long"),
                             (n_chunks - 1).cast("long"))).alias("chunk_id"))
    chunk = F.substring(F.col("payload"),
                        (F.col("chunk_id") * cs + 1).cast("int"), cs)
    return chunked.select(
        "doc_id", "chunk_id",
        (F.col("chunk_id") * cs).alias("byte_off"),
        F.octet_length(chunk).alias("chunk_len"),
        F.sha2(chunk, 256).alias("chunk_sha"))


def patch_grid(media: DataFrame, patch: int = 32) -> DataFrame:
    """ViT-style patch tiling geometry from image metadata: one row
    per (doc, patch) with pixel rectangle (x0, y0, pw, ph), edge
    patches clipped.  Pure integer arithmetic + explode(sequence) —
    row-local, scan-speed; the downstream per-patch decode/embed UDF
    consumes these coordinates plus the payload.

    Returns (doc_id, patch_id, x0, y0, pw, ph).
    """
    p = int(patch)
    nx = F.ceil(F.col("width") / F.lit(float(p))).cast("long")
    ny = F.ceil(F.col("height") / F.lit(float(p))).cast("long")
    n = (nx * ny).cast("long")
    g = media.select(
        "doc_id", "width", "height", nx.alias("nx"),
        F.explode(F.sequence(F.lit(0).cast("long"),
                             (n - 1).cast("long"))).alias("patch_id"))
    x0 = (F.col("patch_id") % F.col("nx")) * p
    y0 = F.floor(F.col("patch_id") / F.col("nx")) * p
    return g.select(
        "doc_id", "patch_id",
        x0.alias("x0"), y0.alias("y0"),
        F.least(F.lit(p).cast("long"), F.col("width") - x0).alias("pw"),
        F.least(F.lit(p).cast("long"), F.col("height") - y0).alias("ph"))


def embed_media_stub(media: DataFrame, dim: int = 8) -> DataFrame:
    """Media → embedding plumbing with the neural encoder STUBBED by a
    deterministic hash projection (no torch/CLIP in this container;
    the Spark-side shape — Arrow batches in, fixed-width float vector
    out — is exactly what a real encoder UDF needs).

    Each payload's sha256 splits into ``dim`` 8-hex-char windows;
    window ``d`` becomes ``(int(hex) % 1000) / 1000`` — a unit-scaled
    float any engine reproduces, so the whole pipeline (decode →
    encode → index) stays oracle-checkable end to end.  Partition-
    preserving mapInPandas: no shuffle, one Python worker pass,
    vectors land ready for operators/similarity.py.
    """
    if not (1 <= dim <= 8):
        raise ValueError(f"dim must be in [1, 8] (64 hex chars / 8), got {dim}")

    def op(batches):
        import hashlib
        import pandas as _pd
        for part in batches:
            embs = []
            for payload in part["payload"]:
                h = hashlib.sha256(bytes(payload)).hexdigest()
                embs.append([
                    (int(h[d * 8:(d + 1) * 8], 16) % 1000) / 1000.0
                    for d in range(dim)])
            yield _pd.DataFrame({"doc_id": part["doc_id"],
                                 "media_type": part["media_type"],
                                 "embedding": embs})

    return media.select("doc_id", "media_type", "payload").mapInPandas(
        op, schema="doc_id long, media_type string, embedding array<double>")


def _chunk_digests(media: DataFrame, chunk_bytes: int,
                   payload_col: str, id_col: str) -> DataFrame:
    """(id, csha): each payload's DISTINCT ``chunk_bytes``-window
    SHA-256 digests — 32 B digests travel, payload bytes never do.
    Empty payloads produce zero chunks: without the length filter,
    ceil(0/chunk)-1 = -1 and sequence(0,-1) is a DESCENDING [0,-1]
    array — two spurious chunk rows, one via a negative substring."""
    return (media.filter(F.octet_length(payload_col) > 0)
            .select(
                F.col(id_col).alias("id"),
                F.explode(F.transform(
                    F.sequence(
                        F.lit(0),
                        F.ceil(F.octet_length(payload_col) / chunk_bytes)
                         .cast("int") - 1),
                    lambda i: F.sha2(
                        F.substring(F.col(payload_col),
                                    i * chunk_bytes + 1, chunk_bytes), 256)))
                .alias("csha"))
            .distinct())


def payload_chunks_between_bucketed(
        corpus: DataFrame, batch: DataFrame, threshold: float = 0.5,
        chunk_bytes: int = 64, payload_col: str = "payload",
        id_col: str = "doc_id", db: str = "nsjs_media_index",
        location: str | None = None, num_buckets: int = 16,
        rebuild: bool = True) -> DataFrame:
    """Incremental MEDIA near-dup against a STANDING bucketed chunk
    index — the media tier gets the same daily-ingest form every text
    tier has: the corpus's (id, chunk-digest) rows and per-payload
    chunk counts are standing bucketed tables, and each batch's
    digests sort-merge-join them with ZERO corpus-side Exchange (only
    the batch shuffles).  Payload bytes never leave the map side on
    either path; supports ``dedup.dedup_index_delete`` retraction and
    ``dedup.dedup_index_compact``.

    Returns (id1 [corpus], id2 [batch], jaccard >= threshold).
    Caller guarantees disjoint id sets, as in the text tiers.
    """
    from nosql_join_stream_spark.operators.dedup import (
        _index_dir, _reset_index, _retract)
    from nosql_join_stream_spark.sinks import read_tombstones, write_bucketed

    spark = corpus.sparkSession
    tau = float(threshold)
    if location is None:
        location = artifact_dir("nsjs_media_index", "default")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{location}'")
    if rebuild:
        _reset_index(spark, db, ("corpus_chunks", "corpus_counts"))
        ch_c = _chunk_digests(corpus, chunk_bytes, payload_col, id_col)
        write_bucketed(ch_c, f"{db}.corpus_chunks", ["csha"],
                       num_buckets=num_buckets, sort_by=["csha"])
        write_bucketed(ch_c.groupBy("id").agg(F.count("*").alias("n_ch")),
                       f"{db}.corpus_counts", ["id"],
                       num_buckets=num_buckets, sort_by=["id"])
    tombs = read_tombstones(spark, _index_dir(spark, db))
    ch_l = _retract(spark.table(f"{db}.corpus_chunks"), tombs, db)
    n_l = _retract(spark.table(f"{db}.corpus_counts"), tombs, db)
    ch_r = (_chunk_digests(batch, chunk_bytes, payload_col, id_col)
            .withColumnRenamed("id", "rid"))
    n_r = ch_r.groupBy("rid").agg(F.count("*").alias("n_ch_r"))
    common = (ch_l.join(ch_r, "csha")
              .groupBy(F.col("id").alias("id1"),
                       F.col("rid").alias("id2"))
              .agg(F.count("*").alias("common")))
    j = (common
         .join(n_l.select(F.col("id").alias("id1"),
                          F.col("n_ch").alias("n1")), "id1")
         .join(n_r.select(F.col("rid").alias("id2"),
                          F.col("n_ch_r").alias("n2")), "id2")
         .withColumn("jaccard",
                     F.round(F.col("common")
                             / (F.col("n1") + F.col("n2")
                                - F.col("common")), 4)))
    return (j.filter(F.col("jaccard") >= tau)
             .select("id1", "id2", "jaccard"))


def media_index_append(batch: DataFrame, chunk_bytes: int = 64,
                       payload_col: str = "payload",
                       id_col: str = "doc_id",
                       db: str = "nsjs_media_index") -> int:
    """Fold an ingested media batch into the STANDING chunk index —
    the maintenance op closing the media family's lifecycle like the
    text tiers': the deduped batch's digest rows and counts append
    with the index's bucket spec (append-stable; corpus never read);
    re-ingested previously-deleted ids become live again.  The chunk
    pass is persisted: the batch SOURCE is scanned once.  Returns the
    number of payloads appended."""
    from nosql_join_stream_spark.operators.dedup import (
        _append_to_index, _index_dir)
    from nosql_join_stream_spark.sinks import clear_tombstones

    spark = batch.sparkSession
    for t in ("corpus_chunks", "corpus_counts"):
        if not spark.catalog.tableExists(f"{db}.{t}"):
            raise ValueError(
                f"no standing media index table {db}.{t}; build one "
                "first (payload_chunks_between_bucketed rebuild=True)")
    ch = _chunk_digests(batch, chunk_bytes, payload_col, id_col).persist()
    try:
        _append_to_index(ch, f"{db}.corpus_chunks")
        counts = ch.groupBy("id").agg(F.count("*").alias("n_ch"))
        _append_to_index(counts, f"{db}.corpus_counts")
        n = counts.count()
        clear_tombstones(ch.select("id"), _index_dir(spark, db))
    finally:
        ch.unpersist()
    return n


def payload_chunk_jaccard(media: DataFrame, threshold: float = 0.5,
                          chunk_bytes: int = 64,
                          payload_col: str = "payload",
                          id_col: str = "doc_id") -> DataFrame:
    """NEAR-dup media pairs by fixed-window chunk-set Jaccard — the
    segment-level tier between exact ``payload_dedup`` (byte-identical
    only) and embedding similarity (needs a decoder): two payloads
    sharing >= ``threshold`` of their ``chunk_bytes``-byte windows are
    re-encodes/truncations/concatenations of the same material
    (shot-level video dedup, re-muxed audio, watermarked image
    variants with shared regions).

    Scale shape: chunks hash to 32 B digests map-side (payload bytes
    never shuffle); one inverted-index equi-join on the digest counts
    common chunks per candidate pair — |pairs sharing a chunk|, never
    |n²| — and the exact Jaccard filter needs only the two set sizes
    already aggregated.  Chunk-level boilerplate (a digest in very
    many payloads, e.g. padding) is the skew to watch at 100 TB: cap
    it with a doc-frequency filter upstream if observed, exactly like
    stop-grams in the text tier.  Returns (id1, id2, jaccard).
    """
    ch = _chunk_digests(media, chunk_bytes, payload_col, id_col)
    n = ch.groupBy("id").agg(F.count("*").alias("n_ch"))
    a = ch.join(n, "id").select(F.col("id").alias("id1"),
                                F.col("n_ch").alias("n1"), "csha")
    b = ch.join(n, "id").select(F.col("id").alias("id2"),
                                F.col("n_ch").alias("n2"), "csha")
    common = (a.join(b, (a["csha"] == b["csha"])
                     & (F.col("id1") < F.col("id2")))
               .groupBy("id1", "id2")
               .agg(F.count("*").alias("common"),
                    F.any_value("n1").alias("n1"),
                    F.any_value("n2").alias("n2")))
    j = F.round(F.col("common")
                / (F.col("n1") + F.col("n2") - F.col("common")), 4)
    return (common.withColumn("jaccard", j)
                  .filter(F.col("jaccard") >= threshold)
                  .select("id1", "id2", "jaccard"))


def image_dhash(media: DataFrame, grid_w: int = 8,
                grid_h: int = 8) -> DataFrame:
    """Perceptual difference-hash (dHash) over binary image payloads
    — the multimodal near-dup signature: re-encodes, resizes and
    mild pixel noise leave the hash within a few bits, so exact
    grouping catches byte-identical dupes' visual twins that
    payload_dedup's sha256 cannot.

    Contract (engine-portable, integer-exact end to end):
    pixels block-average onto a ``(grid_w+1) x grid_h`` grid with
    cell assignment ``cx = (x*(grid_w+1)) DIV w``, ``ry = (y*grid_h)
    DIV h``; bit ``(ry, cx)`` is 1 iff the right cell's mean exceeds
    the left's, decided by CROSS-MULTIPLIED integer sums
    (``S_right*A_left > S_left*A_right``) — no division, no float,
    no rounding anywhere.  Bit index ``b = ry*grid_w + cx``; the 64
    bits pack as two uint32 halves (``hash_hi`` = bits 32..63) so
    values stay positive BIGINTs in every engine.

    One mapInPandas decode+hash pass (PIL if importable, stdlib
    png_codec fallback — the extract_features discipline),
    scan-parallel, output one row per image.
    """
    gw, gh = int(grid_w), int(grid_h)
    schema = ("doc_id long, width int, height int, "
              "hash_hi long, hash_lo long")

    decode = _gray_decoder()

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as _np
        import pandas as _pd

        def _dhash(arr):
            h, w = arr.shape
            cx = (_np.arange(w, dtype=_np.int64) * (gw + 1)) // w
            ry = (_np.arange(h, dtype=_np.int64) * gh) // h
            cell = (ry[:, None] * (gw + 1) + cx[None, :]).ravel()
            ncell = gh * (gw + 1)
            s = _np.bincount(cell, weights=arr.ravel().astype(
                _np.float64), minlength=ncell).astype(_np.int64)
            a = _np.bincount(cell, minlength=ncell).astype(_np.int64)
            s = s.reshape(gh, gw + 1)
            a = a.reshape(gh, gw + 1)
            bits = (s[:, 1:] * a[:, :-1] > s[:, :-1] * a[:, 1:])
            hi = lo = 0
            for r in range(gh):
                for c in range(gw):
                    if bits[r, c]:
                        b = r * gw + c
                        if b >= 32:
                            hi |= 1 << (b - 32)
                        else:
                            lo |= 1 << b
            return hi, lo

        for pdf in batches:
            his, los, ws, hs = [], [], [], []
            for pay in pdf["payload"]:
                arr = decode(bytes(pay))
                hi, lo = _dhash(arr)
                his.append(hi)
                los.append(lo)
                hs.append(arr.shape[0])
                ws.append(arr.shape[1])
            yield _pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "width": _pd.Series(ws, dtype="int32"),
                "height": _pd.Series(hs, dtype="int32"),
                "hash_hi": _pd.Series(his, dtype="int64"),
                "hash_lo": _pd.Series(los, dtype="int64")})

    return media.select("doc_id", "payload").mapInPandas(op,
                                                         schema=schema)
