"""Pure-stdlib WAV (RIFF) PCM codec — the audio sibling of
``jpeg_codec``/``png_codec`` (r13 VERDICT lead #5).

The multimodal audio story previously stopped at synthetic byte
chunking (multimodal.py ``chunk_payload``); this module makes the
decode step REAL for the dominant uncompressed interchange format:
RIFF/WAVE with integer PCM samples (8-bit unsigned, 16-bit signed
little-endian), mono or multi-channel.  Like the image codecs it is
numpy + ``struct`` only — no audio libraries exist in the sandbox —
and mirrors their discipline exactly:

- a real CHUNK WALK (not offset math): RIFF header, then iterate
  ``<fourcc, size>`` chunks honoring the spec's odd-size pad byte, so
  streams carrying LIST/INFO, ``fact``, cue or vendor chunks decode
  the same as minimal ones;
- loud, tested failure for documented format limits (non-PCM codecs
  such as float/ADPCM/µ-law, bit depths other than 8/16) via
  ``NotImplementedError`` — never a silent wrong waveform;
- a sibling encoder so tests and planted fixtures can round-trip
  self-encoded streams, plus hand-built foreign-layout streams
  (extra chunks, pad bytes) pinning the walker.

PCM is lossless, so unlike JPEG the planted-fixture witness is exact
hash equality of decoded per-channel statistics against a closed-form
oracle (see ``multimodal_decode_wav`` in queries_pipeline).

Reference parity note: the reference repo has no codecs at all — its
binary columns stop at opaque payloads (SURVEY §2.7); this is part of
the beyond-reference multimodal surface.
"""

from __future__ import annotations

import struct

import numpy as np

_FMT_PCM = 1  # WAVE_FORMAT_PCM; everything else is a documented limit


def encode_wav_pcm(samples: np.ndarray, sample_rate: int,
                   bits: int = 16, extra_chunks: bool = False) -> bytes:
    """Encode samples to a RIFF/WAVE stream.

    ``samples``: int array shaped (n,) mono or (n, channels);
    values must fit the target depth (int16 for ``bits=16``; for
    ``bits=8`` the SIGNED value range -128..127, stored unsigned
    per the WAV convention ``u8 = s + 128``).  ``extra_chunks=True``
    inserts a LIST/INFO chunk with an odd-sized payload (forcing a
    pad byte) BEFORE ``data`` — the foreign-layout shape real
    encoders produce and naive offset-math readers break on.
    """
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if bits == 16:
        frames = arr.astype("<i2").tobytes()
    elif bits == 8:
        if arr.min() < -128 or arr.max() > 127:
            raise ValueError("8-bit samples must be in -128..127")
        frames = (arr.astype(np.int16) + 128).astype(np.uint8).tobytes()
    else:
        raise NotImplementedError(f"bits={bits}: only 8/16-bit PCM")
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", _FMT_PCM, ch, sample_rate,
                      sample_rate * block, block, bits)
    chunks = [(b"fmt ", fmt)]
    if extra_chunks:
        # odd-length INFO comment => spec requires a pad byte
        info = b"INFOICMT" + struct.pack("<I", 5) + b"five\x00"
        assert len(info) % 2 == 1
        chunks.append((b"LIST", info))
    chunks.append((b"data", frames))
    body = b"WAVE"
    for cc, payload in chunks:
        body += cc + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"  # RIFF pad byte, not counted in size
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a RIFF/WAVE PCM stream to (samples, sample_rate).

    ``samples`` is int16 shaped (n, channels) regardless of stored
    depth — 8-bit unsigned is centered and scaled ``(u8-128)*256``
    (the exact inverse of the natural 16->8 truncation, so round-trip
    through 8-bit is bit-exact for 8-bit-representable values).
    Walks every chunk with pad-byte handling; unknown chunks are
    skipped.  Raises ``ValueError`` on malformed containers and
    ``NotImplementedError`` on non-PCM formats or unsupported depths.
    """
    if len(payload) < 12 or payload[:4] != b"RIFF" \
            or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, 8 + struct.unpack("<I", payload[4:8])[0]
    end = min(end, len(payload))
    fmt = None
    data = None
    n_frames = None
    while pos + 8 <= end:
        cc = payload[pos:pos + 4]
        size = struct.unpack("<I", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cc!r} chunk")
        if cc == b"fmt ":
            if size < 16:
                raise ValueError("fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cc == b"fact" and size >= 4:
            n_frames = struct.unpack("<I", body[:4])[0]
        elif cc == b"data":
            data = body
        pos += 8 + size + (size % 2)  # spec pad byte on odd sizes
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_fmt, ch, rate, _byte_rate, block_align, bits = fmt
    if ch < 1:
        raise ValueError("channel count must be >= 1")
    if audio_fmt == _FMT_IMA_ADPCM:
        if bits != 4:
            raise NotImplementedError(
                f"IMA ADPCM bits={bits}: the spec form is 4")
        return _ima_decode_data(data, ch, block_align, n_frames), rate
    if audio_fmt != _FMT_PCM:
        raise NotImplementedError(
            f"audio format {audio_fmt}: only integer PCM (1) and "
            "IMA ADPCM (0x11) — float/MS-ADPCM/mu-law-in-RIFF are "
            "documented limits")
    if bits == 16:
        n = len(data) // (2 * ch)
        arr = np.frombuffer(data[:n * 2 * ch], dtype="<i2") \
                .reshape(n, ch).astype(np.int16)
    elif bits == 8:
        n = len(data) // ch
        arr = ((np.frombuffer(data[:n * ch], dtype=np.uint8)
                .reshape(n, ch).astype(np.int16)) - 128) * 256
    else:
        raise NotImplementedError(
            f"bits={bits}: only 8/16-bit integer PCM")
    return arr, rate


def waveform_stats(samples: np.ndarray) -> list[dict]:
    """Exact per-channel statistics of an int16 waveform — the
    planted-fixture witness surface (all int64, engine-portable):
    n_samples, min/max, sum, sum of |s|, and a position-weighted
    checksum ``sum((i+1) * s_i)`` that pins sample ORDER (catching
    interleave/endianness bugs a plain sum cannot)."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n = arr.shape[0]
    idx = np.arange(1, n + 1, dtype=np.int64)
    return [{
        "channel": c,
        "n_samples": int(n),
        "min_s": int(arr[:, c].min()) if n else 0,
        "max_s": int(arr[:, c].max()) if n else 0,
        "sum_s": int(arr[:, c].sum()),
        "sum_abs": int(np.abs(arr[:, c]).sum()),
        "checksum": int((idx * arr[:, c]).sum()),
    } for c in range(arr.shape[1])]


def window_features(samples: np.ndarray, window: int) -> list[dict]:
    """Fixed-window waveform features per (channel, window) — the
    VAD/spectrogram prelude, exact in int64: sum of squares (energy;
    RMS's radicand, left unrooted to stay engine-portable), peak
    |amplitude|, and the zero-crossing count under the deterministic
    rule ``(prev < 0) != (s < 0)`` for consecutive samples WITHIN the
    window (the first sample of each window has no predecessor).
    Trailing partial windows are emitted with their true length."""
    arr = np.asarray(samples, dtype=np.int64)
    if arr.ndim == 1:
        arr = arr[:, None]
    n = arr.shape[0]
    w = int(window)
    if w < 1:
        raise ValueError(f"window must be >= 1, got {window}")
    out = []
    for c in range(arr.shape[1]):
        col = arr[:, c]
        for wi in range(0, (n + w - 1) // w):
            seg = col[wi * w:(wi + 1) * w]
            neg = seg < 0
            out.append({
                "channel": c,
                "window_id": wi,
                "win_len": int(len(seg)),
                "sum_sq": int((seg * seg).sum()),
                "peak": int(np.abs(seg).max()),
                "zero_cross": int((neg[1:] != neg[:-1]).sum()),
            })
    return out


# ---------------------------------------------------------------------------
# Sibling audio containers (r14): AIFF (big-endian IFF) and Sun AU,
# plus ITU-T G.711 mu-law expansion — together with RIFF/WAV these
# cover the classic uncompressed interchange formats, each with
# foreign CPython-test-suite fixtures and (where the deprecated
# stdlib modules exist) independent-decoder parity tests.

def _mulaw_table() -> np.ndarray:
    """G.711 mu-law byte -> linear int16, the public-spec expansion
    (sign/exponent/mantissa after ones'-complement; bias 0x84).
    Bit-identical to audioop.ulaw2lin (asserted when importable)."""
    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        exponent = (u >> 4) & 0x07
        mantissa = u & 0x0F
        sample = (((mantissa << 3) + 0x84) << exponent) - 0x84
        out[code] = -sample if u & 0x80 else sample
    return out


MULAW_TABLE = _mulaw_table()


def mulaw_decode(codes: np.ndarray) -> np.ndarray:
    """Vectorized G.711 mu-law expansion: uint8 codes -> int16."""
    return MULAW_TABLE[np.asarray(codes, dtype=np.uint8)]


def _alaw_table() -> np.ndarray:
    """G.711 A-law byte -> linear int16 (even-bit inversion 0x55,
    chord/step expansion; bit-identical to audioop.alaw2lin)."""
    out = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        exponent = (a >> 4) & 0x07
        mantissa = a & 0x0F
        if exponent == 0:
            sample = (mantissa << 4) + 8
        else:
            sample = ((mantissa << 4) + 0x108) << (exponent - 1)
        out[code] = sample if a & 0x80 else -sample
    return out


ALAW_TABLE = _alaw_table()


_FMT_IMA_ADPCM = 0x11  # WAVE_FORMAT_IMA_ADPCM (DVI/Intel ADPCM)

# IMA ADPCM public-spec tables (IMA Digital Audio Focus Group, 1992;
# same tables audioop's Intel/DVI codec uses — asserted when importable)
_IMA_STEPS = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34,
    37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143,
    157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494,
    544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552,
    1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428,
    4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487,
    12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623, 27086,
    29794, 32767], dtype=np.int32)
_IMA_INDEX_ADJ = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int32)


def _ima_decode_codes(codes, pred: int, index: int) -> np.ndarray:
    """Core IMA ADPCM nibble expansion: 4-bit codes + initial
    (predictor, step index) -> int16 samples.  Sequential by nature
    (each step feeds the next), bounded per WAV block (<= ~2k
    samples), so the Python loop is block-local."""
    out = np.empty(len(codes), dtype=np.int16)
    for i, code in enumerate(codes):
        step = int(_IMA_STEPS[index])
        diff = step >> 3
        if code & 1:
            diff += step >> 2
        if code & 2:
            diff += step >> 1
        if code & 4:
            diff += step
        pred = pred - diff if code & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX_ADJ[code & 7])))
        out[i] = pred
    return out


def _ima_encode_codes(samples, pred: int, index: int) -> list[int]:
    """Core IMA ADPCM compressor (fixture writer): int16 samples +
    initial state -> 4-bit codes, using the spec's quantize-then-
    update-with-the-decoder's-arithmetic discipline so decode is the
    exact inverse of the state walk."""
    codes = []
    for s in samples:
        step = int(_IMA_STEPS[index])
        diff = int(s) - pred
        code = 0
        if diff < 0:
            code = 8
            diff = -diff
        if diff >= step:
            code |= 4
            diff -= step
        if diff >= step >> 1:
            code |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            code |= 1
        # replay the decoder update so encoder state == decoder state
        vpdiff = step >> 3
        if code & 1:
            vpdiff += step >> 2
        if code & 2:
            vpdiff += step >> 1
        if code & 4:
            vpdiff += step
        pred = pred - vpdiff if code & 8 else pred + vpdiff
        pred = max(-32768, min(32767, pred))
        index = max(0, min(88, index + int(_IMA_INDEX_ADJ[code & 7])))
        codes.append(code)
    return codes


def encode_wav_ima_adpcm(samples: np.ndarray, sample_rate: int,
                         block_align: int = 256) -> bytes:
    """Encode int16 samples as a WAVE_FORMAT_IMA_ADPCM (0x11) RIFF
    stream — the fixture writer for the last common legacy codec in
    crawl audio after PCM/mu-law/A-law.  Standard MS-IMA block
    layout: per block and channel a 4-byte state header (predictor
    int16 = the block's first output sample, step index u8,
    reserved u8), then the nibble payload in 4-byte-per-channel
    interleave groups, LOW nibble first.  ``fact`` chunk carries the
    exact frame count so decode trims the final partial block."""
    arr = np.asarray(samples, dtype=np.int16)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if n == 0:
        raise ValueError("cannot encode an empty sample array")
    if block_align % (4 * ch) != 0 or block_align < 8 * ch:
        raise ValueError(
            f"block_align {block_align} must be a multiple of 4*ch "
            "and hold at least one nibble group per channel")
    spb = (block_align - 4 * ch) * 2 // ch + 1  # samples per block
    index = [0] * ch
    blocks = []
    for lo in range(0, n, spb):
        blk = arr[lo:lo + spb]
        head = b""
        payload_codes = []
        for c in range(ch):
            pred = int(blk[0, c])
            head += struct.pack("<hBB", pred, index[c], 0)
            want = spb - 1
            chan = blk[1:, c].tolist() + [int(blk[-1, c])] * \
                (want - (len(blk) - 1))     # pad tail with last sample
            codes = _ima_encode_codes(chan, pred, index[c])
            # carry end-of-block step index into the next header
            idx = index[c]
            for code in codes:
                idx = max(0, min(88, idx + int(_IMA_INDEX_ADJ[code & 7])))
            index[c] = idx
            payload_codes.append(codes)
        body = bytearray(head)
        # 8 samples (4 bytes) per channel, channels interleaved
        for g in range(0, spb - 1, 8):
            for c in range(ch):
                cs = payload_codes[c][g:g + 8]
                for k in range(0, 8, 2):
                    body.append(cs[k] | (cs[k + 1] << 4))
        blocks.append(bytes(body))
    frames = b"".join(blocks)
    fmt = struct.pack("<HHIIHHHH", _FMT_IMA_ADPCM, ch, sample_rate,
                      sample_rate * block_align // spb, block_align,
                      4, 2, spb)
    fact = struct.pack("<I", n)
    body = b"WAVE"
    for cc, payload in ((b"fmt ", fmt), (b"fact", fact),
                        (b"data", frames)):
        body += cc + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"
    return b"RIFF" + struct.pack("<I", len(body)) + body


# A fixed public code pattern for planted IMA fixtures whose decode
# is CLOSED-FORM: with no sample clamping, decoded[t] = pred0 +
# cumdiff(idx0, t) where cumdiff depends only on (idx0, pattern) —
# pure spec-table arithmetic an oracle can embed as a VALUES relation
# (the pattern wanders the step table up, back down, then oscillates,
# keeping |cumdiff| < 2300 so any |pred0| <= 30000 never clamps).
IMA_DEMO_PATTERN = tuple(
    ([4] * 8 + [12] * 8 + [1, 9] * 12 + [4, 12] * 12)[:63])


def ima_cumdiff(idx0: int, codes) -> list[int]:
    """Cumulative predictor deltas of an IMA state walk from step
    index ``idx0`` (no clamping; caller guarantees headroom):
    returns [cum after code 0, cum after code 1, ...]."""
    idx, cum, out = idx0, 0, []
    for code in codes:
        step = int(_IMA_STEPS[idx])
        diff = step >> 3
        if code & 1:
            diff += step >> 2
        if code & 2:
            diff += step >> 1
        if code & 4:
            diff += step
        cum = cum - diff if code & 8 else cum + diff
        idx = max(0, min(88, idx + int(_IMA_INDEX_ADJ[code & 7])))
        out.append(cum)
    return out


def encode_wav_ima_raw(preds, idxs, codes, sample_rate: int,
                       n_frames: int) -> bytes:
    """Single-block IMA WAV from EXPLICIT per-channel state + one
    shared code sequence — the planted-fixture writer for the
    closed-form oracle path (no compressor in the loop, so the
    decoder is pinned against the spec tables directly).  ``preds``/
    ``idxs``: per-channel block-header state; ``codes``: the shared
    4-bit code list (padded with zeros to the block's nibble
    capacity); ``n_frames`` rides the ``fact`` chunk and must be
    <= len(codes)+1."""
    ch = len(preds)
    if len(idxs) != ch:
        raise ValueError("preds/idxs channel count mismatch")
    groups = (len(codes) + 7) // 8
    block_align = 4 * ch + groups * 4 * ch
    spb = groups * 8 + 1
    if n_frames > len(codes) + 1:
        raise ValueError("n_frames exceeds coded samples")
    padded = list(codes) + [0] * (groups * 8 - len(codes))
    body = bytearray()
    for c in range(ch):
        body += struct.pack("<hBB", int(preds[c]), int(idxs[c]), 0)
    for g in range(0, spb - 1, 8):
        for _c in range(ch):
            cs = padded[g:g + 8]
            for k in range(0, 8, 2):
                body.append(cs[k] | (cs[k + 1] << 4))
    fmt = struct.pack("<HHIIHHHH", _FMT_IMA_ADPCM, ch, sample_rate,
                      sample_rate * block_align // spb, block_align,
                      4, 2, spb)
    fact = struct.pack("<I", n_frames)
    out = b"WAVE"
    for cc, payload in ((b"fmt ", fmt), (b"fact", fact),
                        (b"data", bytes(body))):
        out += cc + struct.pack("<I", len(payload)) + payload
        if len(payload) % 2:
            out += b"\x00"
    return b"RIFF" + struct.pack("<I", len(out)) + out


def _ima_decode_data(data: bytes, ch: int, block_align: int,
                     n_frames: int | None) -> np.ndarray:
    """WAVE_FORMAT_IMA_ADPCM data chunk -> int16 samples (n, ch)."""
    if block_align < 4 * ch or (block_align - 4 * ch) % (4 * ch) != 0:
        raise ValueError(
            f"IMA ADPCM block_align {block_align} invalid for "
            f"{ch} channel(s)")
    spb = (block_align - 4 * ch) * 2 // ch + 1
    chans: list[list[np.ndarray]] = [[] for _ in range(ch)]
    for lo in range(0, len(data) - (len(data) % block_align),
                    block_align):
        blk = data[lo:lo + block_align]
        preds, idxs = [], []
        for c in range(ch):
            pred, idx, _rsv = struct.unpack_from("<hBB", blk, 4 * c)
            if idx > 88:
                raise ValueError(f"IMA step index {idx} out of range")
            preds.append(pred)
            idxs.append(idx)
        nib = blk[4 * ch:]
        codes: list[list[int]] = [[] for _ in range(ch)]
        for g in range(0, len(nib), 4 * ch):
            for c in range(ch):
                for b in nib[g + 4 * c:g + 4 * (c + 1)]:
                    codes[c].append(b & 0x0F)      # LOW nibble first
                    codes[c].append(b >> 4)
        for c in range(ch):
            dec = _ima_decode_codes(codes[c], preds[c], idxs[c])
            chans[c].append(
                np.concatenate(([np.int16(preds[c])], dec)))
    if not chans[0]:
        raise ValueError("IMA ADPCM stream holds no complete block")
    out = np.stack([np.concatenate(parts) for parts in chans],
                   axis=1)
    if n_frames is not None:
        if n_frames > len(out):
            raise ValueError(
                f"fact chunk claims {n_frames} frames but only "
                f"{len(out)} decode")
        out = out[:n_frames]
    return out


def _f80_to_int(b: bytes) -> int:
    """80-bit IEEE 754 extended float -> int (AIFF sample rates are
    small positive integers stored in this format, COMM chunk)."""
    se = struct.unpack(">H", b[:2])[0]
    mant = struct.unpack(">Q", b[2:10])[0]
    if se == 0 and mant == 0:
        return 0
    exponent = (se & 0x7FFF) - 16383 - 63
    val = mant * (2.0 ** exponent)
    return int(round(-val if se & 0x8000 else val))


def _int_to_f80(n: int) -> bytes:
    """int -> 80-bit extended float (AIFF COMM writer)."""
    if n == 0:
        return b"\x00" * 10
    e = n.bit_length() - 1
    mant = n << (63 - e)
    return struct.pack(">HQ", 16383 + e, mant)


def encode_aiff_pcm(samples: np.ndarray, sample_rate: int,
                    bits: int = 16) -> bytes:
    """Encode an AIFF stream (big-endian PCM; 8-bit AIFF is SIGNED,
    unlike WAV's unsigned convention)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    n, ch = arr.shape
    if bits == 16:
        frames = arr.astype(">i2").tobytes()
    elif bits == 8:
        if arr.min() < -128 or arr.max() > 127:
            raise ValueError("8-bit AIFF samples must be in -128..127")
        frames = arr.astype(np.int8).tobytes()
    else:
        raise NotImplementedError(f"bits={bits}: only 8/16-bit PCM")
    comm = struct.pack(">hLh", ch, n, bits) + _int_to_f80(sample_rate)
    ssnd = struct.pack(">LL", 0, 0) + frames
    body = b"AIFF"
    for cc, payload in ((b"COMM", comm), (b"SSND", ssnd)):
        body += cc + struct.pack(">L", len(payload)) + payload
        if len(payload) % 2:
            body += b"\x00"  # IFF pad byte, like RIFF
    return b"FORM" + struct.pack(">L", len(body)) + body


def decode_aiff(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode an AIFF (FORM/AIFF) PCM stream to (int16 samples,
    sample_rate) — the big-endian IFF sibling of :func:`decode_wav`:
    same chunk walk with pad bytes, COMM carries the 80-bit-float
    sample rate, SSND carries offset/blocksize before the frames.
    8-bit AIFF is SIGNED (scaled ``s8*256``); AIFC compression types
    other than raw PCM are documented limits."""
    if len(payload) < 12 or payload[:4] != b"FORM" \
            or payload[8:12] not in (b"AIFF", b"AIFC"):
        raise ValueError("not a FORM/AIFF stream")
    pos, end = 12, 8 + struct.unpack(">L", payload[4:8])[0]
    end = min(end, len(payload))
    comm = None
    frames = None
    while pos + 8 <= end:
        cc = payload[pos:pos + 4]
        size = struct.unpack(">L", payload[pos + 4:pos + 8])[0]
        body = payload[pos + 8:pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated {cc!r} chunk")
        if cc == b"COMM":
            ch, n, bits = struct.unpack(">hLh", body[:8])
            rate = _f80_to_int(body[8:18])
            compr = body[18:22] if size >= 22 else b"NONE"
            comm = (ch, n, bits, rate, compr)
        elif cc == b"SSND":
            off, _block = struct.unpack(">LL", body[:8])
            frames = body[8 + off:]
        pos += 8 + size + (size % 2)
    if comm is None or frames is None:
        raise ValueError("missing COMM or SSND chunk")
    ch, n, bits, rate, compr = comm
    if compr not in (b"NONE", b"\x00\x00\x00\x00"):
        raise NotImplementedError(
            f"AIFC compression {compr!r}: only raw PCM (NONE)")
    if ch < 1:
        raise ValueError("channel count must be >= 1")
    block = ch * bits // 8
    if len(frames) < n * block:
        # COMM declares more frames than SSND carries: data loss, not
        # a layout variant — fail loudly like the WAV walker does
        raise ValueError(
            f"AIFF SSND holds {len(frames)} bytes but COMM declares "
            f"{n} frames x {block} bytes")
    if bits == 16:
        arr = np.frombuffer(frames[:n * 2 * ch], dtype=">i2") \
                .reshape(n, ch).astype(np.int16)
    elif bits == 8:
        arr = np.frombuffer(frames[:n * ch], dtype=np.int8) \
                .reshape(n, ch).astype(np.int16) * 256
    else:
        raise NotImplementedError(
            f"bits={bits}: only 8/16-bit integer PCM")
    return arr, rate


_AU_MAGIC = b".snd"
_AU_ENC_MULAW, _AU_ENC_PCM8, _AU_ENC_PCM16 = 1, 2, 3
_AU_ENC_ALAW = 27


def encode_au(samples: np.ndarray, sample_rate: int,
              encoding: int = _AU_ENC_PCM16) -> bytes:
    """Encode a Sun AU stream (big-endian header; PCM16, signed PCM8,
    or G.711 mu-law — for mu-law, ``samples`` are the raw uint8
    CODES, the exact bytes a telephony source emits)."""
    arr = np.asarray(samples)
    if arr.ndim == 1:
        arr = arr[:, None]
    ch = arr.shape[1]
    if encoding == _AU_ENC_PCM16:
        data = arr.astype(">i2").tobytes()
    elif encoding == _AU_ENC_PCM8:
        data = arr.astype(np.int8).tobytes()
    elif encoding in (_AU_ENC_MULAW, _AU_ENC_ALAW):
        data = arr.astype(np.uint8).tobytes()
    else:
        raise NotImplementedError(f"AU encoding {encoding}")
    hdr = struct.pack(">4sLLLLL", _AU_MAGIC, 28, len(data),
                      encoding, sample_rate, ch) + b"nsjs"
    return hdr + data


def decode_au(payload: bytes) -> tuple[np.ndarray, int]:
    """Decode a Sun AU stream to (int16 samples, sample_rate):
    16-bit big-endian PCM, signed 8-bit PCM (``s8*256``), and the G.711
    companded pair — mu-law (:data:`MULAW_TABLE`) and A-law
    (:data:`ALAW_TABLE`), both spec-exact real COMPRESSED telephony
    codecs.  Other encodings (float, ADPCM) are documented limits."""
    if len(payload) < 24 or payload[:4] != _AU_MAGIC:
        raise ValueError("not a Sun AU stream")
    off, dsize, enc, rate, ch = struct.unpack(">LLLLL", payload[4:24])
    if ch < 1:
        raise ValueError("channel count must be >= 1")
    data = payload[off:off + dsize]
    if len(data) < dsize:
        raise ValueError("truncated AU data")
    if enc == _AU_ENC_PCM16:
        n = len(data) // (2 * ch)
        arr = np.frombuffer(data[:n * 2 * ch], dtype=">i2") \
                .reshape(n, ch).astype(np.int16)
    elif enc == _AU_ENC_PCM8:
        n = len(data) // ch
        arr = np.frombuffer(data[:n * ch], dtype=np.int8) \
                .reshape(n, ch).astype(np.int16) * 256
    elif enc in (_AU_ENC_MULAW, _AU_ENC_ALAW):
        n = len(data) // ch
        table = MULAW_TABLE if enc == _AU_ENC_MULAW else ALAW_TABLE
        arr = table[np.frombuffer(data[:n * ch], dtype=np.uint8)] \
            .reshape(n, ch)
    else:
        raise NotImplementedError(
            f"AU encoding {enc}: only PCM16/PCM8/mu-law/A-law")
    return arr, rate


def decode_audio(payload: bytes) -> tuple[np.ndarray, int, str]:
    """Container-sniffing audio decode: RIFF/WAVE, FORM/AIFF, or Sun
    AU by magic -> (int16 samples (n, ch), sample_rate, container).
    The single entry point a mixed-corpus pipeline calls on an opaque
    ``binary`` column."""
    if payload[:4] == b"RIFF":
        arr, rate = decode_wav(payload)
        return arr, rate, "wav"
    if payload[:4] == b"FORM":
        arr, rate = decode_aiff(payload)
        return arr, rate, "aiff"
    if payload[:4] == _AU_MAGIC:
        arr, rate = decode_au(payload)
        return arr, rate, "au"
    raise ValueError("unrecognized audio container "
                     f"(magic {payload[:4]!r})")
