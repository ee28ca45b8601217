"""FLAC codec (pipeline/flac.py): lossless roundtrips, LPC decode,
CRC/truncation errors, and the Spark decode_audio dispatch."""

import struct

import numpy as np
import pytest

from xapian_spark.pipeline.flac import (
    _Bits, _BitW, _crc8, _crc16, _utf8_encode, _utf8_number, decode_flac,
    encode_flac, is_flac,
)


def test_roundtrip_waveforms_bit_exact():
    rng = np.random.default_rng(11)
    t = np.arange(10000)
    cases = [
        ((2000 * np.sin(t / 50) + 500 * np.sin(t / 7)).astype("<i2"), 1),
        (rng.integers(-3000, 3000, 9000).astype("<i2"), 1),
        (np.full(5000, 123, dtype="<i2"), 1),
        ((np.arange(8192) % 4000 - 2000).astype("<i2"), 1),
        ((1000 * np.sin(np.arange(16000) / 30)).astype("<i2"), 2),
        (rng.integers(-2000, 2000, 12000).astype("<i2"), 2),
    ]
    for s, ch in cases:
        s = s[:len(s) - (len(s) % ch)]
        blob = encode_flac(8000, ch, s.tobytes())
        assert is_flac(blob)
        rate, gch, pcm = decode_flac(blob)
        assert (rate, gch) == (8000, ch)
        assert pcm == s.tobytes()


def test_edge_sizes_and_extremes():
    rng = np.random.default_rng(5)
    for n in (1, 2, 3, 4095, 4096, 4097, 8193):
        for ch in (1, 2):
            m = n - (n % ch)
            if not m:
                continue
            s = rng.integers(-30000, 30000, m).astype("<i2")
            assert decode_flac(encode_flac(44100, ch, s.tobytes()))[2] \
                == s.tobytes()
    # int16 bounds; the stereo side channel needs 17 bits
    s = np.array([32767, -32768] * 3000, dtype="<i2")
    assert decode_flac(encode_flac(8000, 2, s.tobytes()))[2] \
        == s.tobytes()


@pytest.mark.parametrize("n", [127, 128, 2047, 2048, 65535, 65536])
def test_utf8_number_roundtrip_at_form_boundaries(n):
    # each k-byte form holds 5k+1 bits; 2048 needs the 3-byte form
    # (the 2-byte encoding would be the malformed e0 80)
    enc = _utf8_encode(n)
    assert _utf8_number(_Bits(enc)) == n
    assert len(enc) == 1 + (n >= 128) + (n >= 2048) + (n >= 65536)


def test_truncation_and_bitflip_raise():
    rng = np.random.default_rng(7)
    s = rng.integers(-1000, 1000, 5000).astype("<i2")
    blob = encode_flac(8000, 1, s.tobytes())
    for cut in (3, 10, 40, len(blob) // 2, len(blob) - 2):
        with pytest.raises(ValueError):
            decode_flac(blob[:cut])
    b = bytearray(blob)
    b[len(b) // 2] ^= 0x40  # flips entropy bits -> CRC-16 mismatch
    with pytest.raises(ValueError):
        decode_flac(bytes(b))
    with pytest.raises(ValueError, match="magic"):
        decode_flac(b"RIFF" + blob)


def test_lpc_subframe_hand_built():
    # the fixture encoder never emits LPC, so pin the LPC decode path
    # with a hand-assembled frame: order 2, coefs [3, -1], shift 1 ->
    # s[i] = ((3*s[i-1] - s[i-2]) >> 1) + residual[i]
    warm = [100, 90]
    res = [5, -3, 0, 7, -2, 1]
    expect = list(warm)
    for e in res:
        expect.append(((3 * expect[-1] - expect[-2]) >> 1) + e)
    n = len(expect)

    # STREAMINFO: 8000 Hz, mono, 16-bit, n samples
    si = bytearray()
    si += struct.pack(">HH", n, n) + b"\x00\x00\x00" * 2
    si += bytes([(8000 >> 12) & 0xFF, (8000 >> 4) & 0xFF,
                 ((8000 & 0xF) << 4) | (0 << 1) | 0])
    si += bytes([(15 << 4) | 0]) + struct.pack(">I", n) + b"\x00" * 16
    out = bytearray(b"fLaC")
    out += bytes([0x80]) + struct.pack(">I", len(si))[1:] + si

    bw = _BitW()
    bw.write(0x3FFE, 14)
    bw.write(0, 2)
    bw.write(7, 4)    # 16-bit block size field
    bw.write(0, 4)    # rate from STREAMINFO
    bw.write(0, 4)    # mono
    bw.write(4, 3)    # 16-bit
    bw.write(0, 1)
    bw.write(0, 8)    # frame number 0 (utf8)
    bw.write(n - 1, 16)
    hdr = bytes(bw.out)
    bw.write(_crc8(hdr), 8)
    # subframe: LPC order 2 -> type 32 + (order-1) = 33
    bw.write(0, 1)
    bw.write(33, 6)
    bw.write(0, 1)
    for w in warm:
        bw.write(w & 0xFFFF, 16)
    bw.write(4 - 1, 4)   # precision 4 bits
    bw.write(1, 5)       # shift 1
    for c in [3, -1]:
        bw.write(c & 0xF, 4)
    # residual: RICE, partition order 0, k=3
    bw.write(0, 2)
    bw.write(0, 4)
    bw.write(3, 4)
    for v in res:
        u = (v << 1) if v >= 0 else ((-v) << 1) - 1
        for _ in range(u >> 3):
            bw.write(0, 1)
        bw.write(1, 1)
        bw.write(u & 7, 3)
    bw.align()
    body = bytes(bw.out)
    bw.write(_crc16(body), 16)
    out += bytes(bw.out)

    rate, ch, pcm = decode_flac(bytes(out))
    got = list(np.frombuffer(pcm, dtype="<i2"))
    assert (rate, ch) == (8000, 1)
    assert got == expect


def test_decode_audio_dispatches_flac(spark):
    from xapian_spark.pipeline.multimodal import (
        audio_stats, decode_audio, synthetic_flac_media,
    )

    stats = {r["media_id"]: r for r in
             audio_stats(decode_audio(
                 synthetic_flac_media(spark, 6))).collect()}
    for i in range(6):
        nf = 400 + (i % 5) * 40
        ch = 1 + (i % 2)
        t = np.arange(nf * ch, dtype=np.int64)
        s = (7 * i + 13 * t) % 4001 - 2000
        r = stats[i]
        assert (r["sample_rate"], r["channels"], r["n_frames"]) == \
            (8000, ch, nf)
        assert r["peak"] == int(np.abs(s).max())
        assert r["sum_sq"] == int((s * s).sum())
