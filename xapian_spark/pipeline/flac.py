"""Minimal FLAC codec — stdlib only, written from the public FLAC
format specification (RFC 9639) like the sibling PNG/JPEG/GIF/WAV
codecs. FLAC is LOSSLESS integer audio, so decode here is REAL and
bit-exact: decoded samples equal the encoder's input exactly, which
makes the Spark-side audio stats replayable in closed form by the
same oracle pattern as audio_stats.

Scope (the format's core, enough for real streams):
- fLaC marker + STREAMINFO (other metadata blocks skipped)
- frame headers: blocking strategy, block size / sample rate /
  channel / bit-depth codes, UTF-8-coded frame number, CRC-8
- subframes: CONSTANT, VERBATIM, FIXED orders 0-4, and LPC (integer
  quantized-coefficient prediction) — all integer-exact
- stereo decorrelation: independent, left/side, right/side, mid/side
- rice-coded residuals (partitioned, both RICE and RICE2 escapes,
  verbatim-escape partitions)
- frame CRC-16 verified; corrupt/truncated streams raise ValueError

The encoder (fixture builder) writes 16-bit mono/stereo with
CONSTANT / VERBATIM / FIXED subframes, one rice partition, and
left/side decorrelation for stereo — spec-compliant output that any
FLAC decoder reads. LPC decode is exercised by a hand-built frame in
tests (the encoder never needs LPC for fixtures).
"""

from __future__ import annotations

import struct
from typing import List, Tuple

_BLOCK = 4096  # fixed encoder block size

# CRC-8 (poly 0x07) and CRC-16 (poly 0x8005), per the spec
_CRC8_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

_CRC16_TABLE = []
for _i in range(256):
    _c = _i << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 \
            else (_c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8_TABLE[c ^ b]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16_TABLE[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


def is_flac(data: bytes) -> bool:
    return bytes(data[:4]) == b"fLaC"


class _Bits:
    """MSB-first bit reader with byte-position tracking (frame CRCs
    cover whole bytes, so frames start byte-aligned)."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos  # byte position
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for _ in range(n):
            if self.pos >= len(self.data):
                raise ValueError("FLAC: truncated stream")
            v = (v << 1) | ((self.data[self.pos] >> (7 - self.bit)) & 1)
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v

    def unary(self) -> int:
        n = 0
        while self.read(1) == 0:
            n += 1
            if n > 1 << 24:
                raise ValueError("FLAC: runaway unary code")
        return n

    def align(self):
        if self.bit:
            self.bit = 0
            self.pos += 1


def _utf8_number(bits: _Bits) -> int:
    """FLAC's UTF-8-style coded frame/sample number (up to 36 bits)."""
    b0 = bits.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise ValueError("FLAC: bad UTF-8 coded number")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = bits.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("FLAC: bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1],
                4: [4, -6, 4, -1]}


def _read_residual(bits: _Bits, block_size: int, order: int) -> List[int]:
    method = bits.read(2)
    if method not in (0, 1):
        raise ValueError("FLAC: reserved residual coding method")
    esc = 15 if method == 0 else 31
    pbits = 4 if method == 0 else 5
    part_order = bits.read(4)
    n_parts = 1 << part_order
    if block_size % n_parts or (block_size >> part_order) <= order:
        raise ValueError("FLAC: bad rice partition order")
    out: List[int] = []
    for p in range(n_parts):
        n = (block_size >> part_order) - (order if p == 0 else 0)
        k = bits.read(pbits)
        if k == esc:
            nb = bits.read(5)
            for _ in range(n):
                v = bits.read(nb) if nb else 0
                if nb and v >= (1 << (nb - 1)):
                    v -= 1 << nb
                out.append(v)
        else:
            for _ in range(n):
                q = bits.unary()
                r = bits.read(k) if k else 0
                u = (q << k) | r
                out.append((u >> 1) ^ -(u & 1))
    return out


def _read_subframe(bits: _Bits, block_size: int, depth: int) -> List[int]:
    if bits.read(1) != 0:
        raise ValueError("FLAC: bad subframe sync bit")
    sf_type = bits.read(6)
    wasted = 0
    if bits.read(1):  # wasted bits flag
        wasted = 1 + bits.unary()
        depth -= wasted
    if sf_type == 0:  # CONSTANT
        v = bits.read(depth)
        if v >= 1 << (depth - 1):
            v -= 1 << depth
        samples = [v] * block_size
    elif sf_type == 1:  # VERBATIM
        samples = []
        for _ in range(block_size):
            v = bits.read(depth)
            if v >= 1 << (depth - 1):
                v -= 1 << depth
            samples.append(v)
    elif 8 <= sf_type <= 12:  # FIXED order 0-4
        order = sf_type - 8
        warm = []
        for _ in range(order):
            v = bits.read(depth)
            if v >= 1 << (depth - 1):
                v -= 1 << depth
            warm.append(v)
        res = _read_residual(bits, block_size, order)
        coefs = _FIXED_COEFS[order]
        samples = list(warm)
        for i, e in enumerate(res):
            pred = sum(c * samples[order + i - 1 - j]
                       for j, c in enumerate(coefs))
            samples.append(pred + e)
    elif sf_type >= 32:  # LPC, order = (type & 31) + 1
        order = (sf_type & 31) + 1
        warm = []
        for _ in range(order):
            v = bits.read(depth)
            if v >= 1 << (depth - 1):
                v -= 1 << depth
            warm.append(v)
        prec = bits.read(4) + 1
        if prec == 16:
            raise ValueError("FLAC: invalid LPC precision")
        shift = bits.read(5)
        if shift >= 16:
            shift -= 32
        if shift < 0:
            raise ValueError("FLAC: negative LPC shift")
        coefs = []
        for _ in range(order):
            c = bits.read(prec)
            if c >= 1 << (prec - 1):
                c -= 1 << prec
            coefs.append(c)
        res = _read_residual(bits, block_size, order)
        samples = list(warm)
        for i, e in enumerate(res):
            acc = sum(c * samples[order + i - 1 - j]
                      for j, c in enumerate(coefs))
            samples.append((acc >> shift) + e)
    else:
        raise ValueError(f"FLAC: reserved subframe type {sf_type}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


_BS_CODE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
            8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
            13: 8192, 14: 16384, 15: 32768}
_SR_CODE = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
            6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000,
            11: 96000}
_DEPTH_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def decode_flac(data: bytes) -> Tuple[int, int, bytes]:
    """FLAC bytes → (sample_rate, channels, interleaved int16-LE
    frames) — the same return contract as wav.decode_wav, so the
    audio pipeline treats containers interchangeably. Raises
    ValueError on corrupt framing, CRC mismatch, or bit depths other
    than 16 (the pipeline's PCM width)."""
    data = bytes(data)
    if not is_flac(data):
        raise ValueError("not a FLAC stream (bad magic)")
    pos = 4
    info = None
    while True:
        if pos + 4 > len(data):
            raise ValueError("FLAC: truncated metadata")
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + data[pos + 1:pos + 4])
        if pos + 4 + blen > len(data):
            raise ValueError("FLAC: truncated metadata block")
        if btype == 0:
            if blen < 34:
                raise ValueError("FLAC: short STREAMINFO")
            si = data[pos + 4:pos + 4 + 34]
            sr = (si[10] << 12) | (si[11] << 4) | (si[12] >> 4)
            channels = ((si[12] >> 1) & 7) + 1
            depth = (((si[12] & 1) << 4) | (si[13] >> 4)) + 1
            total = ((si[13] & 0x0F) << 32) | struct.unpack(
                ">I", si[14:18])[0]
            info = (sr, channels, depth, total)
        pos += 4 + blen
        if last:
            break
    if info is None:
        raise ValueError("FLAC: missing STREAMINFO")
    sr, channels, depth, total = info
    if depth != 16:
        raise ValueError(f"FLAC: only 16-bit supported ({depth}-bit)")

    out: List[List[int]] = []
    while pos < len(data):
        frame_start = pos
        bits = _Bits(data, pos)
        sync = bits.read(14)
        if sync != 0x3FFE:
            raise ValueError("FLAC: bad frame sync")
        bits.read(1)  # reserved
        bits.read(1)  # blocking strategy
        bs_code = bits.read(4)
        sr_code = bits.read(4)
        ch_code = bits.read(4)
        depth_code = bits.read(3)
        bits.read(1)  # reserved
        _utf8_number(bits)
        if bs_code == 0:
            raise ValueError("FLAC: reserved block size code")
        elif bs_code == 6:
            block_size = bits.read(8) + 1
        elif bs_code == 7:
            block_size = bits.read(16) + 1
        else:
            block_size = _BS_CODE[bs_code]
        if sr_code == 12:
            bits.read(8)
        elif sr_code in (13, 14):
            bits.read(16)
        elif sr_code == 15:
            raise ValueError("FLAC: invalid sample rate code")
        if depth_code in _DEPTH_CODE and \
                _DEPTH_CODE[depth_code] != depth:
            raise ValueError("FLAC: frame depth != STREAMINFO depth")
        crc8_end = bits.pos + (1 if bits.bit else 0)
        if _crc8(data[frame_start:crc8_end]) != bits.read(8):
            raise ValueError("FLAC: frame header CRC-8 mismatch")

        if ch_code < 8:
            n_ch = ch_code + 1
            if n_ch != channels:
                raise ValueError("FLAC: frame channels != STREAMINFO")
            chans = [_read_subframe(bits, block_size, depth)
                     for _ in range(n_ch)]
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("FLAC: stereo decorrelation in"
                                 " non-stereo stream")
            # side channel carries one extra bit
            if ch_code == 8:  # left/side
                left = _read_subframe(bits, block_size, depth)
                side = _read_subframe(bits, block_size, depth + 1)
                chans = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right/side
                side = _read_subframe(bits, block_size, depth + 1)
                right = _read_subframe(bits, block_size, depth)
                chans = [[r + s for r, s in zip(right, side)], right]
            else:  # mid/side
                mid = _read_subframe(bits, block_size, depth)
                side = _read_subframe(bits, block_size, depth + 1)
                chans = [[], []]
                for m, s in zip(mid, side):
                    m = (m << 1) | (s & 1)
                    chans[0].append((m + s) >> 1)
                    chans[1].append((m - s) >> 1)
        else:
            raise ValueError("FLAC: reserved channel assignment")
        bits.align()
        crc = bits.read(16)
        if _crc16(data[frame_start:bits.pos - 2]) != crc:
            raise ValueError("FLAC: frame CRC-16 mismatch")
        pos = bits.pos
        for i in range(block_size):
            out.append([chans[c][i] for c in range(channels)])

    if total and len(out) > total:
        out = out[:total]
    flat = bytearray()
    for frame in out:
        for s in frame:
            if not -32768 <= s <= 32767:
                raise ValueError("FLAC: sample out of 16-bit range")
            flat += struct.pack("<h", s)
    return sr, channels, bytes(flat)


# ---------------------------------------------------------------------------
# Encoder (fixture builder)
# ---------------------------------------------------------------------------

class _BitW:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, v: int, n: int):
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((v >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                self.acc = 0
                self.n = 0

    def align(self):
        while self.n:
            self.write(0, 1)


def _utf8_encode(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    # the k-byte form carries (7-k) + 6*(k-1) = 5k+1 payload bits
    while n >= 1 << (5 * nbytes + 1):
        nbytes += 1
    payload = [(n >> (6 * i)) & 0x3F for i in range(nbytes - 1)]
    lead_bits = 7 - nbytes
    lead = (0xFF << (lead_bits + 1)) & 0xFF | (n >> (6 * (nbytes - 1)))
    return bytes([lead] + [0x80 | p for p in reversed(payload)])


def _write_rice(bw: _BitW, res: List[int]):
    """One-partition rice coding with a simple mean-based k."""
    bw.write(0, 2)       # method: RICE
    bw.write(0, 4)       # partition order 0
    u = [(v << 1) if v >= 0 else ((-v) << 1) - 1 for v in res]
    mean = (sum(u) // max(1, len(u))) + 1
    k = 0
    while (1 << (k + 1)) < mean and k < 14:
        k += 1
    bw.write(k, 4)
    for v in u:
        q, r = v >> k, v & ((1 << k) - 1)
        if q > 1 << 20:
            raise ValueError("FLAC encoder: residual too large")
        for _ in range(q):
            bw.write(0, 1)
        bw.write(1, 1)
        if k:
            bw.write(r, k)


def _write_subframe(bw: _BitW, samples: List[int], depth: int):
    if all(s == samples[0] for s in samples):
        bw.write(0, 1)
        bw.write(0, 6)   # CONSTANT
        bw.write(0, 1)
        bw.write(samples[0] & ((1 << depth) - 1), depth)
        return
    # pick the fixed order with the smallest total |residual|; the
    # residual of FIXED order o is the o-th difference (after o
    # warmup samples)
    diffs = [samples]
    for _ in range(4):
        prev = diffs[-1]
        diffs.append([prev[i] - prev[i - 1]
                      for i in range(1, len(prev))])
    order = min(range(min(5, len(samples))),
                key=lambda o: sum(abs(v) for v in diffs[o]))
    if max((abs(v) for v in diffs[order]), default=0) > 1 << 24:
        order = 0
    bw.write(0, 1)
    bw.write(8 + order, 6)   # FIXED
    bw.write(0, 1)
    mask = (1 << depth) - 1
    for s in samples[:order]:
        bw.write(s & mask, depth)
    _write_rice(bw, diffs[order])


def encode_flac(sample_rate: int, channels: int,
                samples: bytes) -> bytes:
    """(rate, channels, interleaved int16-LE frames) → FLAC bytes.
    16-bit, mono or stereo (stereo uses left/side decorrelation);
    CONSTANT/FIXED subframes with one rice partition per subframe."""
    if channels not in (1, 2):
        raise ValueError("encode_flac supports 1 or 2 channels")
    if len(samples) % (2 * channels):
        raise ValueError("samples must be whole int16 frames")
    n_frames = len(samples) // (2 * channels)
    chan: List[List[int]] = [[] for _ in range(channels)]
    for i in range(n_frames):
        for c in range(channels):
            (v,) = struct.unpack_from("<h", samples,
                                      2 * (i * channels + c))
            chan[c].append(v)

    out = bytearray(b"fLaC")
    # STREAMINFO (last metadata block)
    si = bytearray()
    si += struct.pack(">HH", _BLOCK, _BLOCK)
    si += b"\x00\x00\x00" * 2  # min/max frame size unknown
    si += bytes([(sample_rate >> 12) & 0xFF,
                 (sample_rate >> 4) & 0xFF,
                 ((sample_rate & 0xF) << 4) | ((channels - 1) << 1)
                 | (15 >> 4)])
    si += bytes([((15 & 0xF) << 4) | ((n_frames >> 32) & 0xF)])
    si += struct.pack(">I", n_frames & 0xFFFFFFFF)
    si += b"\x00" * 16  # md5 unset
    out += bytes([0x80]) + struct.pack(">I", len(si))[1:] + si

    for fno, start in enumerate(range(0, n_frames, _BLOCK)):
        bs = min(_BLOCK, n_frames - start)
        bw = _BitW()
        bw.write(0x3FFE, 14)
        bw.write(0, 1)
        bw.write(0, 1)        # fixed blocksize strategy
        bw.write(7, 4)        # block size: 16-bit field follows
        bw.write(0, 4)        # sample rate: from STREAMINFO
        ch_code = 0 if channels == 1 else 8  # mono / left-side
        bw.write(ch_code, 4)
        bw.write(4, 3)        # 16-bit
        bw.write(0, 1)
        for b in _utf8_encode(fno):
            bw.write(b, 8)
        bw.write(bs - 1, 16)
        hdr = bytes(bw.out) if bw.n == 0 else None
        if hdr is None:
            raise AssertionError("frame header must be byte-aligned")
        bw.write(_crc8(hdr), 8)
        if channels == 1:
            _write_subframe(bw, chan[0][start:start + bs], 16)
        else:
            left = chan[0][start:start + bs]
            right = chan[1][start:start + bs]
            side = [l - r for l, r in zip(left, right)]
            _write_subframe(bw, left, 16)
            _write_subframe(bw, side, 17)
        bw.align()
        body = bytes(bw.out)
        bw.write(_crc16(body), 16)
        out += bytes(bw.out)
    return bytes(out)
