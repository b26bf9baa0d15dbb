"""wav_codec: RIFF chunk walk, PCM decode, error contract.

The audio sibling of test_jpeg_codec (r13 VERDICT lead #5): round
trips through the sibling encoder PLUS hand-built foreign-layout
streams, so a shared encoder/decoder misconception can't pass."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from nosql_join_stream_spark.operators import wav_codec as W


def test_roundtrip_mono_16():
    rng = np.random.default_rng(7)
    s = rng.integers(-32768, 32768, size=500, dtype=np.int16)
    arr, rate = W.decode_wav(W.encode_wav_pcm(s, 22050))
    assert rate == 22050 and arr.shape == (500, 1)
    assert np.array_equal(arr[:, 0], s)


def test_roundtrip_stereo_and_interleave():
    rng = np.random.default_rng(8)
    s = rng.integers(-32768, 32768, size=(300, 2), dtype=np.int16)
    arr, _ = W.decode_wav(W.encode_wav_pcm(s, 8000))
    assert arr.shape == (300, 2)
    assert np.array_equal(arr, s)
    # checksum is position-weighted: swapping channels changes it
    st = W.waveform_stats(arr)
    sw = W.waveform_stats(arr[:, ::-1])
    assert st[0]["checksum"] == sw[1]["checksum"]
    assert st[0]["checksum"] != st[1]["checksum"]


def test_roundtrip_8bit_exact():
    s8 = np.arange(-128, 128, dtype=np.int16)
    arr, _ = W.decode_wav(W.encode_wav_pcm(s8, 11025, bits=8))
    assert np.array_equal(arr[:, 0], s8 * 256)


def test_extra_chunks_and_pad_byte():
    s = np.array([1, -2, 3], dtype=np.int16)
    plain = W.decode_wav(W.encode_wav_pcm(s, 8000))[0]
    extra = W.decode_wav(
        W.encode_wav_pcm(s, 8000, extra_chunks=True))[0]
    assert np.array_equal(plain, extra)


def test_foreign_layout_data_before_fmt():
    """Hand-built stream our encoder never produces: data chunk FIRST,
    then an unknown odd-sized chunk with pad, then fmt."""
    frames = np.array([100, -100, 3000], dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 16000, 32000, 2, 16)
    body = (b"WAVE"
            + b"data" + struct.pack("<I", len(frames)) + frames
            + b"junk" + struct.pack("<I", 3) + b"abc\x00"  # pad
            + b"fmt " + struct.pack("<I", 16) + fmt)
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    arr, rate = W.decode_wav(payload)
    assert rate == 16000
    assert np.array_equal(arr[:, 0], [100, -100, 3000])


def test_error_contract():
    with pytest.raises(ValueError, match="RIFF"):
        W.decode_wav(b"OggS" + b"\x00" * 40)
    s = np.array([1, 2], dtype=np.int16)
    good = bytearray(W.encode_wav_pcm(s, 8000))
    # flip audio format to IEEE float (3): documented limit, loud
    i = good.find(b"fmt ") + 8
    bad = bytes(good[:i]) + struct.pack("<H", 3) + bytes(good[i + 2:])
    with pytest.raises(NotImplementedError, match="only integer PCM"):
        W.decode_wav(bad)
    # 24-bit depth: documented limit
    bad = bytearray(W.encode_wav_pcm(s, 8000))
    j = bad.find(b"fmt ") + 8 + 14
    bad[j:j + 2] = struct.pack("<H", 24)
    with pytest.raises(NotImplementedError, match="8/16-bit"):
        W.decode_wav(bytes(bad))
    # truncated data chunk
    with pytest.raises(ValueError, match="truncated"):
        W.decode_wav(bytes(good[:-1]))
    with pytest.raises(ValueError, match="missing fmt"):
        W.decode_wav(b"RIFF" + struct.pack("<I", 4) + b"WAVE")
    with pytest.raises(NotImplementedError):
        W.encode_wav_pcm(s, 8000, bits=24)
    with pytest.raises(ValueError):
        W.encode_wav_pcm(np.array([300], dtype=np.int16), 8000, bits=8)


def test_waveform_stats_hand_values():
    st = W.waveform_stats(np.array([[5], [-3], [2]], dtype=np.int16))
    assert st == [{"channel": 0, "n_samples": 3, "min_s": -3,
                   "max_s": 5, "sum_s": 4, "sum_abs": 10,
                   "checksum": 5 * 1 + -3 * 2 + 2 * 3}]


def test_window_features_hand_values():
    s = np.array([1, -1, 2, -2, 3], dtype=np.int16)
    f = W.window_features(s, 3)
    assert f == [
        {"channel": 0, "window_id": 0, "win_len": 3, "sum_sq": 6,
         "peak": 2, "zero_cross": 2},
        {"channel": 0, "window_id": 1, "win_len": 2, "sum_sq": 13,
         "peak": 3, "zero_cross": 1},
    ]
    with pytest.raises(ValueError):
        W.window_features(s, 0)


# ---------------------------------------------------------------------------
# Foreign-stream fixtures + stdlib-`wave` parity.  Unlike the JPEG
# fixtures (whose PIL parity is environment-conditional), the stdlib
# `wave` module is ALWAYS present, so every environment asserts
# bit-parity of the chunk walker against an independent decoder on
# streams produced by other encoders (CPython test-suite audio,
# Lib/test/audiodata/pluck-pcm{8,16}.wav, PSF license).

import os
import wave as _wave

_FIXDIR = os.path.join(os.path.dirname(__file__), "fixtures")


@pytest.mark.parametrize("name,width", [
    ("foreign_pcm16_stereo.wav", 2),
    ("foreign_pcm8_stereo.wav", 1),
])
def test_foreign_stream_wave_parity(name, width):
    path = os.path.join(_FIXDIR, name)
    ours, rate = W.decode_wav(open(path, "rb").read())
    wf = _wave.open(path)
    assert wf.getsampwidth() == width
    assert rate == wf.getframerate()
    frames = wf.readframes(wf.getnframes())
    ch = wf.getnchannels()
    if width == 2:
        ref = np.frombuffer(frames, dtype="<i2").reshape(-1, ch)
    else:
        ref = (np.frombuffer(frames, dtype=np.uint8).reshape(-1, ch)
               .astype(np.int16) - 128) * 256
    assert ours.shape == ref.shape == (3307, 2)
    assert np.array_equal(ours, ref)


def test_our_encoder_read_by_wave_module():
    """Reverse direction: streams from encode_wav_pcm (including the
    extra-chunk layout) parse identically through stdlib wave."""
    import io

    rng = np.random.default_rng(11)
    s = rng.integers(-32768, 32768, size=(257, 2), dtype=np.int16)
    for extra in (False, True):
        payload = W.encode_wav_pcm(s, 22050, extra_chunks=extra)
        wf = _wave.open(io.BytesIO(payload))
        assert (wf.getnchannels(), wf.getsampwidth(),
                wf.getframerate(), wf.getnframes()) == (2, 2, 22050, 257)
        ref = np.frombuffer(wf.readframes(257), dtype="<i2") \
                .reshape(257, 2)
        assert np.array_equal(ref, s)


# AIFF / AU / mu-law siblings: foreign CPython fixtures with pinned
# decode hashes (captured under 3.11 where aifc/sunau/audioop still
# exist and re-derive them — see the conditional parity tests below).

def _sha(arr):
    import hashlib
    return hashlib.sha256(arr.astype("<i2").tobytes()).hexdigest()[:16]


@pytest.mark.parametrize("name,container,pin", [
    ("foreign_pcm16_stereo.aiff", "aiff", "4dadbdbea22fb98e"),
    ("foreign_pcm16_stereo.au", "au", "5befdac12cf91e53"),
    ("foreign_ulaw_stereo.au", "au", "5d4a09af7f36bfc6"),
])
def test_foreign_aiff_au_decode(name, container, pin):
    payload = open(os.path.join(_FIXDIR, name), "rb").read()
    arr, rate, cont = W.decode_audio(payload)
    assert cont == container
    assert arr.shape == (3307, 2) and rate == 11025
    assert _sha(arr) == pin


def _mod_or_none(name):
    import importlib
    import warnings
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", DeprecationWarning)
            return importlib.import_module(name)
    except ImportError:
        return None


@pytest.mark.skipif(_mod_or_none("aifc") is None,
                    reason="aifc removed (PEP 594, 3.13+)")
def test_aiff_parity_vs_aifc():
    path = os.path.join(_FIXDIR, "foreign_pcm16_stereo.aiff")
    a = _mod_or_none("aifc").open(path)
    ref = np.frombuffer(a.readframes(a.getnframes()), dtype=">i2") \
            .reshape(-1, a.getnchannels()).astype(np.int16)
    ours, rate = W.decode_aiff(open(path, "rb").read())
    assert rate == a.getframerate()
    assert np.array_equal(ours, ref)
    # reverse: aifc reads our encoder's stream identically
    import io
    enc = W.encode_aiff_pcm(ref, 11025)
    b = _mod_or_none("aifc").open(io.BytesIO(enc))
    assert np.array_equal(
        np.frombuffer(b.readframes(b.getnframes()), dtype=">i2")
          .reshape(-1, 2), ref)


@pytest.mark.skipif(_mod_or_none("sunau") is None
                    or _mod_or_none("audioop") is None,
                    reason="sunau/audioop removed (PEP 594, 3.13+)")
@pytest.mark.parametrize("name", ["foreign_pcm16_stereo.au",
                                  "foreign_ulaw_stereo.au"])
def test_au_parity_vs_sunau(name):
    path = os.path.join(_FIXDIR, name)
    s = _mod_or_none("sunau").open(path)
    raw = s.readframes(s.getnframes())
    b = open(path, "rb").read()
    import struct as _st
    enc = _st.unpack(">L", b[12:16])[0]
    if enc == 1:
        # sunau expands ULAW to native-endian 16-bit linear itself
        # (via audioop) — raw IS the linear reference
        ref = np.frombuffer(raw, dtype="<i2").reshape(-1, 2)
    else:
        ref = np.frombuffer(raw, dtype=">i2").reshape(-1, 2)
    ours, rate = W.decode_au(b)
    assert rate == s.getframerate()
    assert np.array_equal(ours, ref.astype(np.int16))


def test_mulaw_table_spec_values():
    # G.711 landmark codewords: 0x00 -> -32124 (max negative),
    # 0x80 -> +32124, 0xFF -> 0 (positive zero), 0x7F -> -0
    assert W.MULAW_TABLE[0x00] == -32124
    assert W.MULAW_TABLE[0x80] == 32124
    assert W.MULAW_TABLE[0xFF] == 0
    assert W.MULAW_TABLE[0x7F] == 0


def test_decode_audio_dispatch_errors():
    with pytest.raises(ValueError, match="unrecognized audio"):
        W.decode_audio(b"OggS0000000000000000")
    with pytest.raises(NotImplementedError, match="compression"):
        # hand-flip an AIFC compression fourcc into the COMM chunk
        enc = bytearray(W.encode_aiff_pcm(
            np.array([1, 2], dtype=np.int16), 8000))
        i = enc.find(b"COMM")
        comm_len = 18 + 4
        new_comm = enc[i + 8:i + 8 + 18] + b"ima4"
        out = (bytes(enc[:i]) + b"COMM"
               + __import__("struct").pack(">L", comm_len) + new_comm
               + bytes(enc[i + 8 + 18:]))
        out = out[:8] + out[8:]  # same FORM size is fine (walk clamps)
        W.decode_aiff(out)


def test_alaw_table_and_au_roundtrip():
    codes = np.arange(256, dtype=np.uint8).reshape(-1, 1)
    arr, _ = W.decode_au(W.encode_au(codes, 8000, encoding=27))
    assert np.array_equal(arr[:, 0], W.ALAW_TABLE)
    # G.711 A-law landmarks: 0x55 -> -8 (smallest step), 0xD5 -> +8
    assert W.ALAW_TABLE[0x55] == -8 and W.ALAW_TABLE[0xD5] == 8
    audioop = _mod_or_none("audioop")
    if audioop is not None:
        ref = np.frombuffer(audioop.alaw2lin(bytes(range(256)), 2),
                            dtype="<i2")
        assert np.array_equal(W.ALAW_TABLE, ref)
        refu = np.frombuffer(audioop.ulaw2lin(bytes(range(256)), 2),
                             dtype="<i2")
        assert np.array_equal(W.MULAW_TABLE, refu)


def test_decode_fuzz_never_crashes_unstructured():
    """Adversarial bytes must fail with the documented error types
    (ValueError/NotImplementedError), never IndexError/struct.error/
    silent garbage — the pydocsource option-fuzz discipline applied
    to the codec walkers."""
    import random

    rng = random.Random(1234)
    magics = [b"RIFF", b"FORM", b".snd", b"\x00\x00\x00\x00"]
    suffixes = [b"WAVE", b"AIFF", b"AIFC", b"JUNK"]
    for trial in range(300):
        n = rng.randrange(0, 200)
        body = bytes(rng.randrange(256) for _ in range(n))
        payload = (rng.choice(magics) + body[:4] + rng.choice(suffixes)
                   + body[4:])
        for fn in (W.decode_wav, W.decode_aiff, W.decode_au,
                   W.decode_audio):
            try:
                fn(payload)
            except (ValueError, NotImplementedError):
                pass  # the documented contract

    # truncations of VALID streams at every prefix length
    s = np.array([[1, -2], [3, -4], [5, -6]], dtype=np.int16)
    for enc in (W.encode_wav_pcm(s, 8000, extra_chunks=True),
                W.encode_aiff_pcm(s, 8000),
                W.encode_au(s, 8000)):
        for cut in range(len(enc)):
            try:
                W.decode_audio(enc[:cut])
            except (ValueError, NotImplementedError):
                pass


# ---------------------------------------------------------------------------
# IMA ADPCM (WAVE_FORMAT_IMA_ADPCM 0x11) — the last common legacy
# codec in crawl audio after PCM / mu-law / A-law.  The fixture's
# nibble streams were produced by the FOREIGN compressor
# (audioop.lin2adpcm, CPython's Intel/DVI codec) over the pluck
# samples and framed per the MS-IMA block layout; decode parity is
# re-derived below wherever audioop still exists.

def test_foreign_ima_decode_pinned():
    payload = open(os.path.join(_FIXDIR, "foreign_ima_stereo.wav"),
                   "rb").read()
    arr, rate, cont = W.decode_audio(payload)
    assert cont == "wav"
    assert arr.shape == (3307, 2) and rate == 11025
    assert _sha(arr) == "40f669c2d9ce6ef5"


@pytest.mark.skipif(_mod_or_none("audioop") is None,
                    reason="audioop removed (PEP 594, 3.13+)")
def test_ima_parity_vs_audioop():
    """Block-walk the fixture's SOURCE pcm through audioop's
    compressor+expander with the same per-block state the fixture
    carries; our decoder must match bit-for-bit.  Also pins the core
    nibble codecs both ways on raw state."""
    audioop = _mod_or_none("audioop")
    pcm, rate = W.decode_wav(open(os.path.join(
        _FIXDIR, "foreign_pcm16_stereo.wav"), "rb").read())
    n, ch = pcm.shape
    spb = (256 - 4 * ch) * 2 // ch + 1
    exp_ch = []
    for c in range(ch):
        outs, idxc = [], 0
        for lo in range(0, n, spb):
            blk = pcm[lo:lo + spb]
            pred = int(blk[0, c])
            want = spb - 1
            chanv = blk[1:, c].tolist() \
                + [int(blk[-1, c])] * (want - (len(blk) - 1))
            packed, (_p, i_out) = audioop.lin2adpcm(
                np.array(chanv, dtype="<i2").tobytes(), 2,
                (pred, idxc))
            lin, _ = audioop.adpcm2lin(packed, 2, (pred, idxc))
            idxc = i_out
            outs.append(np.concatenate(
                ([np.int16(pred)], np.frombuffer(lin, dtype="<i2"))))
        exp_ch.append(np.concatenate(outs)[:n])
    exp = np.stack(exp_ch, axis=1)
    ours, r = W.decode_wav(open(os.path.join(
        _FIXDIR, "foreign_ima_stereo.wav"), "rb").read())
    assert r == rate and np.array_equal(ours, exp)
    # core codecs vs audioop on raw state (encoder AND decoder)
    sig = (4000 * np.sin(np.arange(401) / 6)).astype(np.int16)
    mine = W._ima_encode_codes(sig[1:].tolist(), int(sig[0]), 3)
    packed, _ = audioop.lin2adpcm(
        sig[1:].astype("<i2").tobytes(), 2, (int(sig[0]), 3))
    theirs = [b for x in packed for b in (x >> 4, x & 0xF)][:len(mine)]
    assert mine == theirs
    dec = W._ima_decode_codes(theirs, int(sig[0]), 3)
    lin, _ = audioop.adpcm2lin(packed, 2, (int(sig[0]), 3))
    assert np.array_equal(dec,
                          np.frombuffer(lin, dtype="<i2")[:len(dec)])


def test_ima_roundtrip_self():
    """encode_wav_ima_adpcm -> decode_wav: exact frame count/rate,
    every block's first sample exact (it travels in the header), and
    bounded tracking error on a smooth signal (ADPCM is lossy; the
    witness is the state walk, not fidelity)."""
    t = np.arange(1000)
    mono = (3000 * np.sin(t / 9)).astype(np.int16)
    st = np.stack([mono, (mono // 3).astype(np.int16)], axis=1)
    for sig in (mono, st):
        raw = W.encode_wav_ima_adpcm(sig, 8000, block_align=256)
        dec, rate = W.decode_wav(raw)
        ref = sig[:, None] if sig.ndim == 1 else sig
        assert rate == 8000 and dec.shape == ref.shape
        ch = ref.shape[1]
        spb = (256 - 4 * ch) * 2 // ch + 1
        assert np.array_equal(dec[::spb], ref[::spb])  # header samples
        err = np.abs(dec.astype(int) - ref.astype(int))
        # step index starts at 0 (step=7): the first samples are
        # slew-limited until the quantizer adapts — bounded transient,
        # then tight tracking
        assert err.max() < 1200 and err[32:].max() < 200


def test_ima_error_contract():
    sig = np.zeros(100, dtype=np.int16)
    with pytest.raises(ValueError, match="block_align"):
        W.encode_wav_ima_adpcm(sig, 8000, block_align=10)
    with pytest.raises(ValueError, match="empty"):
        W.encode_wav_ima_adpcm(np.zeros((0,), np.int16), 8000)
    raw = bytearray(W.encode_wav_ima_adpcm(sig, 8000, block_align=64))
    i = raw.find(b"fmt ")
    # bits field (offset 14 into fmt body) != 4 -> documented limit
    bad = bytearray(raw)
    bad[i + 8 + 14] = 8
    with pytest.raises(NotImplementedError, match="IMA ADPCM bits"):
        W.decode_wav(bytes(bad))
    # step index > 88 in a block header -> loud
    bad = bytearray(raw)
    j = bad.find(b"data") + 8 + 2          # first block, index byte
    bad[j] = 100
    with pytest.raises(ValueError, match="step index"):
        W.decode_wav(bytes(bad))
    # fact chunk claiming more frames than blocks decode -> loud
    bad = bytearray(raw)
    k = bad.find(b"fact") + 8
    bad[k:k + 4] = (10 ** 6).to_bytes(4, "little")
    with pytest.raises(ValueError, match="fact chunk claims"):
        W.decode_wav(bytes(bad))


def test_ima_fuzz_never_crashes_unstructured():
    import random

    rng = random.Random(31)
    base = W.encode_wav_ima_adpcm(
        (100 * np.sin(np.arange(300) / 5)).astype(np.int16), 8000,
        block_align=64)
    for _ in range(150):
        b = bytearray(base)
        for _k in range(rng.randrange(1, 8)):
            b[rng.randrange(len(b))] = rng.randrange(256)
        try:
            W.decode_wav(bytes(b[:rng.randrange(20, len(b) + 1)]))
        except (ValueError, NotImplementedError):
            pass  # the documented error contract
