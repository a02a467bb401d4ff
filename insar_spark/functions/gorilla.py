"""Gorilla-style series compression: delta-of-delta timestamps + XOR floats.

Public-domain algorithm from the Gorilla paper (Pelkonen et al., VLDB 2015),
implemented fresh in Python/NumPy. This is the engine analog of the
reference's blosc-compressed chunk storage (insar/prepare.py:46-47,173-188):
the *engine feature* is packing a whole series into one BinaryType blob
inside the Arrow UDF layer, so the at-rest format stays Parquet/zstd while
in-flight series travel as single cells.

Encoding:
* timestamps (int64 microseconds): header value raw 64 bits, first delta
  raw 64 bits, then delta-of-delta buckets
  0 | 10+7b | 110+9b | 1110+12b | 1111+64b  (zig-zag signed).
* values (float64): first raw 64 bits, then XOR with previous:
  '0' if identical, '10' + meaningful-bits (reusing the previous
  leading/length window) if it fits, else '11' + 6b leading + 6b length +
  bits.

Round-trip is bit-exact for any float64 (NaN included) and any int64
sequence — property-tested in tests/test_gorilla.py.

r6 OPTIMIZATION (guide §4): the per-point bit loops were the measured cost
(~2 µs/pt each way — 7.7 s of single-task CPU for a 10⁶-turn mega-series
blob). The encoders now build per-point (width, value) fields with
vectorized numpy passes and pack them through ``_pack_fields`` (nine
scatter-OR passes over the whole field array); the decoders read through a
Python-int bit accumulator refilled 64 bits at a time instead of slicing
bytes per field. The BYTE STREAM IS UNCHANGED: the original bit-at-a-time
implementations are kept below as ``_*_py`` and pinned byte-identical /
array-identical by parity tests (test_gorilla.py) over random and
pathological inputs. ``encode_timestamps`` falls back to the exact-int
path when any |ts| >= 2^61 (the vectorized int64 delta-of-delta could
overflow there; below the bound every intermediate fits int64 exactly).
"""

from __future__ import annotations

import numpy as np


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.nbits += bits
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def bytes(self) -> bytes:
        if self.nbits:
            return bytes(self.buf) + bytes([(self.acc << (8 - self.nbits)) & 0xFF])
        return bytes(self.buf)


class _BitReader:
    __slots__ = ("data", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0

    def read(self, bits: int) -> int:
        # constant-time field extraction: pull the covering byte span as
        # one int, shift off the tail (not per-bit loops — 60x faster on
        # 64-bit fields)
        p = self.pos
        end = p + bits
        chunk = int.from_bytes(self.data[p >> 3 : (end + 7) >> 3], "big")
        self.pos = end
        return (chunk >> ((-end) % 8)) & ((1 << bits) - 1)


def _zigzag(v: int) -> int:
    return (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1


def _unzigzag(u: int) -> int:
    return (u >> 1) if (u & 1) == 0 else -((u + 1) >> 1)


_DOD_BUCKETS = ((7, 0b10, 2), (9, 0b110, 3), (12, 0b1110, 4))


_M64 = (1 << 64) - 1


def _to_i64(u: int) -> int:
    """unsigned 64-bit -> two's-complement signed."""
    return u - (1 << 64) if u >= (1 << 63) else u


# ------------------------------------------------------------ bit packing


def _pack_fields(nbits: np.ndarray, vals: np.ndarray) -> bytes:
    """Pack big-endian bit fields (each <= 64 bits wide, value already
    masked to its width) into one byte stream — the vectorized equivalent
    of sequential ``_BitWriter.write`` calls, byte-identical output.

    Nine passes: a field at bit offset ``off`` spans at most
    ceil((64 + 7) / 8) = 9 bytes; pass k ORs every field's k-th covering
    byte into the output via ``np.bitwise_or.at`` (unbuffered, so fields
    sharing a byte compose — their bit ranges are disjoint by
    construction)."""
    nbits = np.asarray(nbits, dtype=np.int64)
    vals = np.asarray(vals, dtype=np.uint64)
    total = int(nbits.sum())
    nbytes = (total + 7) >> 3
    if nbytes == 0:
        return b""
    offs = np.cumsum(nbits) - nbits  # start offset of each field
    # a <=64-bit field at any bit offset spans at most TWO aligned 64-bit
    # words: scatter-OR word contributions (2 passes), then serialize the
    # words big-endian — each word's integer value IS its MSB-first bits
    w0 = offs >> 6
    end = (offs & 63) + nbits  # field end bit within the word pair, <= 127
    spill = end > 64
    sh_hi = np.where(spill, end - 64, 0).astype(np.uint64)
    sh_lo = np.where(spill, 0, 64 - end).astype(np.uint64)
    c0 = np.where(spill, vals >> sh_hi, vals << sh_lo)
    out = np.zeros((nbytes + 7 >> 3) + 2, dtype=np.uint64)
    np.bitwise_or.at(out, w0, c0)
    if spill.any():
        c1 = vals[spill] << (np.uint64(128) - end[spill].astype(np.uint64))
        np.bitwise_or.at(out, w0[spill] + 1, c1)
    return out.astype(">u8").tobytes()[:nbytes]


def _bitlen_u64(x: np.ndarray) -> np.ndarray:
    """Exact bit_length of uint64 values (vectorized binary search)."""
    v = x.copy()
    bl = np.zeros(x.shape, dtype=np.int64)
    for s in (32, 16, 8, 4, 2, 1):
        big = v >= (np.uint64(1) << np.uint64(s))
        bl[big] += s
        v[big] >>= np.uint64(s)
    return bl + (v > 0)


# ----------------------------------------------------- timestamp encoding


def _encode_timestamps_py(ts: np.ndarray) -> bytes:
    """Reference bit-at-a-time encoder (exact Python-int arithmetic mod
    2^64 — correct for ANY int64 sequence, including deltas that overflow
    int64). The vectorized path below falls back to this beyond its
    no-overflow bound and is parity-pinned byte-identical within it."""
    vals = [int(v) for v in np.asarray(ts, dtype=np.int64)]
    w = _BitWriter()
    n = len(vals)
    w.write(n, 32)
    if n == 0:
        return w.bytes()
    w.write(vals[0] & _M64, 64)
    if n == 1:
        return w.bytes()
    delta = vals[1] - vals[0]
    w.write(delta & _M64, 64)
    prev_delta = delta
    for i in range(2, n):
        d = vals[i] - vals[i - 1]
        dod = d - prev_delta
        prev_delta = d
        if dod == 0:
            w.write(0, 1)
            continue
        z = _zigzag(dod)
        for bits, prefix, plen in _DOD_BUCKETS:
            if z < (1 << bits):
                w.write(prefix, plen)
                w.write(z, bits)
                break
        else:
            w.write(0b1111, 4)
            w.write(dod & _M64, 64)
    return w.bytes()


# |ts| below this bound ⇒ |delta| < 2^62 and |dod| < 2^63: every
# intermediate of the vectorized int64 path is exact (no wrap)
_TS_SAFE = 1 << 61

# below this series length the bit-at-a-time path wins (fixed numpy-pass
# overhead ~60 us/call; measured crossover ~100 points for both encoders —
# same length-gating pattern as the LTTB numpy kernel)
_ENC_NP_MIN = 128


def encode_timestamps(ts: np.ndarray) -> bytes:
    """int64 array -> delta-of-delta packed bytes (byte-identical to
    ``_encode_timestamps_py``; vectorized field build + ``_pack_fields``)."""
    a = np.asarray(ts, dtype=np.int64)
    n = len(a)
    if n < _ENC_NP_MIN:
        return _encode_timestamps_py(a)
    # min/max bound check (NOT np.abs — |INT64_MIN| overflows int64)
    if int(a.min()) <= -_TS_SAFE or int(a.max()) >= _TS_SAFE:
        return _encode_timestamps_py(a)
    deltas = np.diff(a)
    dods = np.diff(deltas)
    du = dods.astype(np.uint64)
    # zigzag in two's complement: (u << 1) ^ (arithmetic v >> 63)
    z = (du << np.uint64(1)) ^ (dods >> np.int64(63)).astype(np.uint64)
    # bucket class -> (width, value) with prefix folded in; class 4 (raw
    # 64-bit) splits into a 4-bit prefix field + 64-bit payload field
    zero = dods == 0
    c1 = ~zero & (z < np.uint64(1 << 7))
    c2 = ~zero & ~c1 & (z < np.uint64(1 << 9))
    c3 = ~zero & ~c1 & ~c2 & (z < np.uint64(1 << 12))
    c4 = ~zero & ~c1 & ~c2 & ~c3
    first_bits = np.select(
        [zero, c1, c2, c3], [1, 9, 12, 16], default=4
    ).astype(np.int64)
    first_vals = np.select(
        [
            zero,
            c1,
            c2,
            c3,
        ],
        [
            np.uint64(0),
            np.uint64(0b10 << 7) | z,
            np.uint64(0b110 << 9) | z,
            np.uint64(0b1110 << 12) | z,
        ],
        default=np.uint64(0b1111),
    )
    reps = np.where(c4, 2, 1)
    pos = np.cumsum(reps) - reps + 3  # slots 0..2 are the header fields
    m = 3 + int(reps.sum())
    f_bits = np.empty(m, dtype=np.int64)
    f_vals = np.empty(m, dtype=np.uint64)
    f_bits[0:3] = (32, 64, 64)
    f_vals[0] = np.uint64(n)
    f_vals[1] = np.uint64(a[0].astype(np.uint64))
    f_vals[2] = deltas[0].astype(np.uint64)
    f_bits[pos] = first_bits
    f_vals[pos] = first_vals
    if c4.any():
        sec = pos[c4] + 1
        f_bits[sec] = 64
        f_vals[sec] = du[c4]
    return _pack_fields(f_bits, f_vals)


def _decode_timestamps_py(data: bytes) -> np.ndarray:
    """Reference per-field decoder (kept for the parity tests)."""
    r = _BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    cur = _to_i64(r.read(64))
    out[0] = cur
    if n == 1:
        return out
    delta = r.read(64)  # mod-2^64 representation
    cur = _to_i64((cur + delta) & _M64)
    out[1] = cur
    for i in range(2, n):
        if r.read(1) == 0:
            dod = 0
        else:
            if r.read(1) == 0:
                dod = _unzigzag(r.read(7))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(9))
            elif r.read(1) == 0:
                dod = _unzigzag(r.read(12))
            else:
                dod = r.read(64)
        delta = (delta + dod) & _M64
        cur = _to_i64((cur + delta) & _M64)
        out[i] = cur
    return out


def decode_timestamps(data: bytes) -> np.ndarray:
    """Inverse of :func:`encode_timestamps` — buffered-accumulator reader
    (refills 64 bits at a time; array-identical to the reference decoder,
    parity-pinned)."""
    # big-int right shifts on the whole blob are O(words); for long blobs
    # walk via a word list + local accumulator instead
    if len(data) > 512:
        words = np.frombuffer(
            data + b"\x00" * ((-len(data)) % 8), dtype=">u8"
        ).tolist()
        nwords = len(words)
        wi = 0
        acc = 0
        acc_bits = 0

        def read(bits: int) -> int:
            nonlocal wi, acc, acc_bits
            while acc_bits < bits:
                acc = (acc << 64) | words[wi]
                wi += 1
                acc_bits += 64
            acc_bits -= bits
            v = acc >> acc_bits
            acc &= (1 << acc_bits) - 1
            return v

        n = read(32)
        out = np.empty(n, dtype=np.int64)
        if n == 0:
            return out
        cur = _to_i64(read(64))
        out[0] = cur
        if n == 1:
            return out
        res = [0] * n
        res[0] = cur
        delta = read(64)
        cur = _to_i64((cur + delta) & _M64)
        res[1] = cur
        # peek-then-consume: classify the bucket from 4 buffered bits,
        # then pull prefix+payload in ONE combined read — 2 accumulator
        # ops per point instead of up to 5 sequential read() calls
        for i in range(2, n):
            while acc_bits < 4 and wi < nwords:
                acc = (acc << 64) | words[wi]
                wi += 1
                acc_bits += 64
            p4 = (acc >> (acc_bits - 4)) & 0xF if acc_bits >= 4 else (
                acc << (4 - acc_bits)
            ) & 0xF
            if p4 < 0b1000:  # '0'
                acc_bits -= 1
                acc &= (1 << acc_bits) - 1
                dod = 0
            elif p4 < 0b1100:  # '10' + 7
                dod = _unzigzag(read(9) & 0x7F)
            elif p4 < 0b1110:  # '110' + 9
                dod = _unzigzag(read(12) & 0x1FF)
            elif p4 < 0b1111:  # '1110' + 12
                dod = _unzigzag(read(16) & 0xFFF)
            else:  # '1111' + raw 64
                read(4)
                dod = read(64)
            delta = (delta + dod) & _M64
            cur = _to_i64((cur + delta) & _M64)
            res[i] = cur
        return np.array(res, dtype=np.int64)

    # short blobs: keep the whole blob as one int, track the bits read;
    # reading k bits = one shift/mask
    blob = int.from_bytes(data, "big")
    total = len(data) * 8
    pos = 0

    def read(bits: int) -> int:
        nonlocal pos
        pos += bits
        return (blob >> (total - pos)) & ((1 << bits) - 1)

    n = read(32)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    cur = _to_i64(read(64))
    out[0] = cur
    if n == 1:
        return out
    res = [0] * n
    res[0] = cur
    delta = read(64)
    cur = _to_i64((cur + delta) & _M64)
    res[1] = cur
    for i in range(2, n):
        if read(1) == 0:
            dod = 0
        else:
            if read(1) == 0:
                dod = _unzigzag(read(7))
            elif read(1) == 0:
                dod = _unzigzag(read(9))
            elif read(1) == 0:
                dod = _unzigzag(read(12))
            else:
                dod = read(64)
        delta = (delta + dod) & _M64
        cur = _to_i64((cur + delta) & _M64)
        res[i] = cur
    return np.array(res, dtype=np.int64)


# --------------------------------------------------------- value encoding


def _encode_values_py(vals: np.ndarray) -> bytes:
    """Reference bit-at-a-time XOR encoder (kept for the parity tests)."""
    bits_arr = np.asarray(vals, dtype=np.float64).view(np.uint64)
    w = _BitWriter()
    n = len(bits_arr)
    w.write(n, 32)
    if n == 0:
        return w.bytes()
    prev = int(bits_arr[0])
    w.write(prev, 64)
    lead, length = 65, 0  # previous meaningful-bit window (65 = unset)
    for i in range(1, n):
        cur = int(bits_arr[i])
        x = prev ^ cur
        prev = cur
        if x == 0:
            w.write(0, 1)
            continue
        lz = 64 - x.bit_length()
        tz = (x & -x).bit_length() - 1
        if lz > 31:
            lz = 31  # 6-bit leading field caps at 63, but cap tighter like Gorilla
        if lead <= 64 and lz >= lead and tz >= 64 - lead - length:
            w.write(0b10, 2)
            w.write(x >> (64 - lead - length), length)
        else:
            lead, length = lz, 64 - lz - tz
            w.write(0b11, 2)
            w.write(lead, 6)
            w.write(length - 1, 6)  # length in [1, 64] stored as length-1
            w.write(x >> tz, length)
    return w.bytes()


def encode_values(vals: np.ndarray) -> bytes:
    """float64 array -> Gorilla-XOR packed bytes (bit-exact round-trip;
    byte-identical to ``_encode_values_py``).

    The window-reuse control decision is inherently sequential (the
    (lead, length) state feeds the next step), so that stays a Python
    loop — but over PRE-VECTORIZED xor/leading-zero/trailing-zero arrays,
    emitting (width, value) fields packed by ``_pack_fields``; the
    per-point bit-writer calls are gone."""
    bits_arr = np.asarray(vals, dtype=np.float64).view(np.uint64)
    n = len(bits_arr)
    if n < _ENC_NP_MIN:
        return _encode_values_py(vals)
    xs = bits_arr[1:] ^ bits_arr[:-1]
    bl = _bitlen_u64(xs)
    lzs = (64 - bl).clip(max=31)
    tzs = _bitlen_u64(xs & (~xs + np.uint64(1))) - 1
    x_l = xs.tolist()
    lz_l = lzs.tolist()
    tz_l = tzs.tolist()
    f_bits = [32, 64]
    f_vals = [n, int(bits_arr[0])]
    ab = f_bits.append
    av = f_vals.append
    lead, length = 65, 0
    for i in range(n - 1):
        x = x_l[i]
        if x == 0:
            ab(1)
            av(0)
            continue
        lz = lz_l[i]
        tz = tz_l[i]
        if lead <= 64 and lz >= lead and tz >= 64 - lead - length:
            pay = (x >> (64 - lead - length)) & ((1 << length) - 1)
            if length <= 62:  # control+payload in one field
                ab(2 + length)
                av((0b10 << length) | pay)
            else:
                ab(2)
                av(0b10)
                ab(length)
                av(pay)
        else:
            lead, length = lz, 64 - lz - tz
            pay = (x >> tz) & ((1 << length) - 1)
            if length <= 50:  # 14-bit control + payload in one field
                ab(14 + length)
                av((((0b11 << 12) | (lead << 6) | (length - 1)) << length) | pay)
            else:
                ab(14)
                av((0b11 << 12) | (lead << 6) | (length - 1))
                ab(length)
                av(pay)
    return _pack_fields(
        np.array(f_bits, dtype=np.int64), np.array(f_vals, dtype=np.uint64)
    )


def _decode_values_py(data: bytes) -> np.ndarray:
    """Reference per-field decoder (kept for the parity tests)."""
    r = _BitReader(data)
    n = r.read(32)
    out = np.empty(n, dtype=np.uint64)
    if n == 0:
        return out.view(np.float64)
    prev = r.read(64)
    out[0] = prev
    lead, length = 0, 0
    for i in range(1, n):
        if r.read(1) == 0:
            out[i] = prev
            continue
        if r.read(1) == 0:  # '10': reuse window
            x = r.read(length) << (64 - lead - length)
        else:  # '11': new window
            lead = r.read(6)
            length = r.read(6) + 1
            x = r.read(length) << (64 - lead - length)
        prev ^= x
        out[i] = prev
    return out.view(np.float64)


def decode_values(data: bytes) -> np.ndarray:
    """Inverse of :func:`encode_values` — buffered-accumulator reader
    (array-identical to the reference decoder, parity-pinned)."""
    if len(data) <= 512:
        return _decode_values_py(data)
    words = np.frombuffer(
        data + b"\x00" * ((-len(data)) % 8), dtype=">u8"
    ).tolist()
    wi = 0
    acc = 0
    acc_bits = 0

    def read(bits: int) -> int:
        nonlocal wi, acc, acc_bits
        while acc_bits < bits:
            acc = (acc << 64) | words[wi]
            wi += 1
            acc_bits += 64
        acc_bits -= bits
        v = acc >> acc_bits
        acc &= (1 << acc_bits) - 1
        return v

    n = read(32)
    if n == 0:
        return np.empty(0, dtype=np.uint64).view(np.float64)
    prev = read(64)
    res = [0] * n
    res[0] = prev
    lead, length = 0, 0
    nwords = len(words)
    # peek-then-consume (see decode_timestamps): classify from 2 buffered
    # bits, then pull the control+payload in combined reads
    for i in range(1, n):
        while acc_bits < 2 and wi < nwords:
            acc = (acc << 64) | words[wi]
            wi += 1
            acc_bits += 64
        p2 = (acc >> (acc_bits - 2)) & 0b11 if acc_bits >= 2 else (
            acc << (2 - acc_bits)
        ) & 0b11
        if p2 < 0b10:  # '0': identical value
            acc_bits -= 1
            acc &= (1 << acc_bits) - 1
            res[i] = prev
            continue
        if p2 == 0b10:  # '10': reuse window
            x = (read(2 + length) & ((1 << length) - 1)) << (
                64 - lead - length
            )
        else:  # '11': new window
            ctl = read(14)
            lead = (ctl >> 6) & 0x3F
            length = (ctl & 0x3F) + 1
            x = read(length) << (64 - lead - length)
        prev ^= x
        res[i] = prev
    return np.array(res, dtype=np.uint64).view(np.float64)


def compression_ratio(ts: np.ndarray, vals: np.ndarray) -> float:
    """Raw (16 bytes/point) vs encoded size."""
    raw = 16 * len(ts)
    enc = len(encode_timestamps(ts)) + len(encode_values(vals))
    return raw / enc if enc else 0.0
