"""Pure-Python FLAC subset codec (no external libraries).

Covers the lossless-audio core of the FLAC format
(https://xiph.org/flac/format.html): STREAMINFO parsing, frame
headers with CRC-8/CRC-16 verification, CONSTANT / VERBATIM / FIXED
(order 0-4) / LPC (order 1-32, quantized-coefficient) subframes,
Rice-coded residuals (any partition order, including the 5-bit
escape), and all four channel assignments (independent, left-side,
right-side, mid-side) — i.e. every subframe type a spec-conforming
encoder can emit decodes here, CRC- and MD5-verified.

Two encoders for tests and profiles: :func:`encode_flac` (best FIXED
order 0-2 per block — the polynomial-predictor path) and
:func:`encode_flac_lpc` (autocorrelation → Levinson-Durbin →
quantized LPC — the real-compression path). Together with
``decode_flac_bytes`` this retires the FLAC codec stub in
``operators/multimodal.py`` (PNG and baseline JPEG decode natively
already).

Same posture as jpegcodec.py: executor-side pure Python driven through
Arrow-batched ``mapInPandas`` — the codec cost is per-payload and
embarrassingly parallel; no shuffle is implied by decoding.
"""

from __future__ import annotations

import hashlib

import numpy as np

_SYNC = 0b11111111111110

# CRC-8 poly x^8+x^2+x+1 (0x07), CRC-16 poly x^16+x^15+x^2+1 (0x8005),
# both init 0 per the FLAC spec.
_CRC8_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = ((_c << 1) ^ 0x07) & 0xFF if _c & 0x80 else (_c << 1) & 0xFF
    _CRC8_TABLE.append(_c)

_CRC16_TABLE = []
for _b in range(256):
    _c = _b << 8
    for _ in range(8):
        _c = ((_c << 1) ^ 0x8005) & 0xFFFF if _c & 0x8000 else (_c << 1) & 0xFFFF
    _CRC16_TABLE.append(_c)


def _crc8(data: bytes) -> int:
    c = 0
    for byte in data:
        c = _CRC8_TABLE[c ^ byte]
    return c


def _crc16(data: bytes) -> int:
    c = 0
    for byte in data:
        c = _CRC16_TABLE[((c >> 8) ^ byte) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


class _BitWriter:
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

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zero bits then a one bit

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def bytes(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.buf)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.byte = pos
        self.bit = 0

    def read(self, bits: int) -> int:
        v = 0
        while bits:
            if self.byte >= len(self.data):
                raise ValueError("truncated FLAC bitstream")
            avail = 8 - self.bit
            take = min(bits, avail)
            cur = self.data[self.byte]
            v = (v << take) | ((cur >> (avail - take)) & ((1 << take) - 1))
            self.bit += take
            bits -= take
            if self.bit == 8:
                self.bit = 0
                self.byte += 1
        return v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.byte += 1


def _utf8_code(n: int) -> bytes:
    """FLAC's UTF-8-style coded number (frame index)."""
    if n < 0x80:
        return bytes([n])
    out = []
    bits = n.bit_length()
    n_bytes = 2
    while bits > 6 + 5 * (n_bytes - 1) - (n_bytes - 2):
        n_bytes += 1
    # leading byte has (7 - n_bytes) payload bits, continuations 6 each
    payload = 6 * (n_bytes - 1)
    lead = (0xFF00 >> n_bytes) & 0xFF
    out.append(lead | (n >> payload))
    for i in range(n_bytes - 1):
        payload -= 6
        out.append(0x80 | ((n >> payload) & 0x3F))
    return bytes(out)


def _utf8_decode(r: "_BitReader") -> int:
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n_bytes = 0
    mask = 0x80
    while b0 & mask:
        n_bytes += 1
        mask >>= 1
    v = b0 & (mask - 1)
    for _ in range(n_bytes - 1):
        b = r.read(8)
        if (b & 0xC0) != 0x80:
            raise ValueError("bad UTF-8 coded number")
        v = (v << 6) | (b & 0x3F)
    return v


_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _fixed_residual(x: np.ndarray, order: int) -> np.ndarray:
    r = x.astype(np.int64)
    for _ in range(order):
        r = np.diff(r)
    return r


def _zigzag(r: np.ndarray) -> np.ndarray:
    return np.where(r >= 0, r << 1, (-r << 1) - 1).astype(np.int64)


def _rice_param(res: np.ndarray) -> int:
    if len(res) == 0:
        return 0
    mean = float(np.mean(np.abs(res))) + 1.0
    k = max(0, min(14, int(np.ceil(np.log2(mean)))))
    return k


def _write_rice_block(w: _BitWriter, res: np.ndarray, k: int) -> None:
    """Batch Rice-code a residual block: assemble every sample's
    ``q zeros · 1 · k-bit remainder`` field into ONE arbitrary-width
    integer and emit it with a single ``write`` — ~4 int ops per
    sample instead of a per-bit ``write_unary`` loop. Bit-identical to
    the per-sample path (same fields, same order)."""
    u_arr = _zigzag(res)
    mask = (1 << k) - 1
    acc = 0
    total = 0
    for u in u_arr.tolist():
        q = u >> k
        width = q + 1 + k
        acc = (acc << width) | (1 << k) | (u & mask)
        total += width
    if total:
        w.write(acc, total)


def _write_subframe(w: _BitWriter, x: np.ndarray, bps: int) -> None:
    """CONSTANT if flat, else best FIXED order 0-2, Rice partition 0."""
    if np.all(x == x[0]):
        w.write(0, 1)
        w.write(0, 6)  # CONSTANT
        w.write(0, 1)
        w.write(int(x[0]) & ((1 << bps) - 1), bps)
        return
    best_order, best_cost, best_res = 0, None, None
    for order in range(3):
        if order >= len(x):
            break
        res = _fixed_residual(x, order)
        cost = int(np.sum(np.abs(res)))
        if best_cost is None or cost < best_cost:
            best_order, best_cost, best_res = order, cost, res
    order, res = best_order, best_res
    w.write(0, 1)
    w.write(8 | order, 6)  # FIXED, order
    w.write(0, 1)  # no wasted bits
    for i in range(order):  # warmup samples
        w.write(int(x[i]) & ((1 << bps) - 1), bps)
    w.write(0, 2)  # residual method: 4-bit Rice
    w.write(0, 4)  # partition order 0
    k = _rice_param(res)
    w.write(k, 4)
    _write_rice_block(w, res, k)


def encode_flac(
    samples: np.ndarray, sample_rate: int = 16_000, block_size: int = 4096
) -> bytes:
    """Encode int16 PCM ((n,) mono or (n, ch)) as a FLAC stream with
    fixed-predictor subframes (independent channels)."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    bps = 16

    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()
    head = _BitWriter()
    head.write(0x80, 8)  # last metadata block, type 0 (STREAMINFO)
    head.write(34, 24)
    head.write(block_size, 16)
    head.write(block_size, 16)
    head.write(0, 24)
    head.write(0, 24)
    head.write(sample_rate, 20)
    head.write(ch - 1, 3)
    head.write(bps - 1, 5)
    head.write(n, 36)
    out = bytearray(b"fLaC" + head.bytes() + md5)

    for fi, start in enumerate(range(0, n, block_size)):
        blk = s[start : start + block_size]
        bs = blk.shape[0]
        w = _BitWriter()
        w.write(_SYNC, 14)
        w.write(0, 1)  # reserved
        w.write(0, 1)  # fixed-blocksize stream
        w.write(0b0111, 4)  # blocksize: 16 bit at end of header
        w.write(0b1101, 4)  # sample rate: 16 bit in Hz at end of header
        w.write(ch - 1, 4)  # independent channels
        w.write(0b100, 3)  # 16 bits per sample
        w.write(0, 1)  # reserved
        for byte in _utf8_code(fi):
            w.write(byte, 8)
        w.write(bs - 1, 16)
        w.write(sample_rate, 16)
        hdr = bytes(w.buf)
        assert w.nbits == 0
        w.write(_crc8(hdr), 8)
        for c in range(ch):
            _write_subframe(w, blk[:, c].astype(np.int64), bps)
        w.align()
        frame = w.bytes()
        out += frame + _crc16(frame).to_bytes(2, "big")
    return bytes(out)


def _read_rice_partition(r: _BitReader, cnt: int, k: int) -> list[int]:
    """Batch-decode ``cnt`` Rice(k) samples: snapshot the reader's
    remaining bits as ONE arbitrary-width integer, peel quotients with
    ``bit_length`` arithmetic (leading-zero count) instead of a
    per-bit ``read_unary`` loop, then advance the reader by the exact
    bit count consumed. Bit-identical to the per-sample path."""
    data = r.data
    start_byte, start_bit = r.byte, r.bit
    width = (len(data) - start_byte) * 8 - start_bit
    if width < 0:
        raise ValueError("truncated FLAC bitstream")
    val = int.from_bytes(data[start_byte:], "big") & ((1 << width) - 1)
    out: list[int] = []
    consumed = 0
    for _ in range(cnt):
        bl = val.bit_length()
        if bl == 0:
            raise ValueError("truncated FLAC bitstream")
        q = width - bl
        width = bl - 1  # consume the q zeros and the stop bit
        val &= (1 << width) - 1
        if k:
            if width < k:
                raise ValueError("truncated FLAC bitstream")
            rem = val >> (width - k)
            width -= k
            val &= (1 << width) - 1
            u = (q << k) | rem
        else:
            u = q
        out.append((u >> 1) ^ -(u & 1))
        consumed += q + 1 + k
    total = start_bit + consumed
    r.byte = start_byte + (total >> 3)
    r.bit = total & 7
    return out


def _read_residuals(r: _BitReader, bs: int, order: int) -> np.ndarray:
    method = r.read(2)
    if method not in (0, 1):
        raise ValueError("reserved residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = r.read(4)
    res: list[int] = []
    n_parts = 1 << porder
    for p in range(n_parts):
        cnt = bs >> porder
        if p == 0:
            cnt -= order
        k = r.read(pbits)
        if k == escape:
            raw = r.read(5)
            for _ in range(cnt):
                v = r.read(raw) if raw else 0
                if raw and v >= 1 << (raw - 1):
                    v -= 1 << raw
                res.append(v)
        else:
            res.extend(_read_rice_partition(r, cnt, k))
    return np.array(res, dtype=np.int64)


def _read_subframe(r: _BitReader, bs: int, bps: int) -> np.ndarray:
    if r.read(1) != 0:
        raise ValueError("invalid subframe padding bit")
    typ = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = 1 + r.read_unary()

    def signed(v: int, bits: int) -> int:
        return v - (1 << bits) if v >= 1 << (bits - 1) else v

    eff = bps - wasted
    if typ == 0:  # CONSTANT
        x = np.full(bs, signed(r.read(eff), eff), dtype=np.int64)
    elif typ == 1:  # VERBATIM
        x = np.array([signed(r.read(eff), eff) for _ in range(bs)], dtype=np.int64)
    elif 8 <= typ <= 12:  # FIXED order 0-4
        order = typ - 8
        warm = [signed(r.read(eff), eff) for _ in range(order)]
        res = _read_residuals(r, bs, order)
        # The IIR recurrence is inherently sequential; run it over a
        # plain int list (no per-element numpy scalar boxing).
        cj = list(enumerate(_FIXED_COEFS[order]))
        xl = list(warm)
        for v in res.tolist():
            acc = 0
            for j, c in cj:
                acc += c * xl[-1 - j]
            xl.append(v + acc)
        x = np.array(xl, dtype=np.int64)
    elif typ >= 32:  # LPC, order 1-32
        order = (typ & 0x1F) + 1
        warm = [signed(r.read(eff), eff) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:
            raise ValueError("invalid LPC precision escape")
        shift = signed(r.read(5), 5)
        if shift < 0:
            raise ValueError("negative LPC shift is forbidden by spec")
        coefs = [signed(r.read(precision), precision) for _ in range(order)]
        res = _read_residuals(r, bs, order)
        cj = list(enumerate(coefs))
        xl = list(warm)
        for v in res.tolist():
            acc = 0
            for j, c in cj:
                acc += c * xl[-1 - j]
            xl.append(v + (acc >> shift))
        x = np.array(xl, dtype=np.int64)
    else:
        raise ValueError(f"reserved subframe type {typ}")
    return x << wasted


_BLOCKSIZES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def decode_flac_bytes(b: bytes) -> tuple[int, int, int, np.ndarray]:
    """Decode a FLAC stream -> (sample_rate, channels, bps, samples
    (n, ch) int32). Verifies frame CRC-8/CRC-16 and the STREAMINFO
    MD5 for 16-bit streams."""
    if b[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        hdr = b[pos]
        last, typ = hdr & 0x80, hdr & 0x7F
        length = int.from_bytes(b[pos + 1 : pos + 4], "big")
        if typ == 0:
            streaminfo = b[pos + 4 : pos + 4 + length]
        pos += 4 + length
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing STREAMINFO")
    r = _BitReader(streaminfo)
    r.read(16), r.read(16), r.read(24), r.read(24)
    sample_rate = r.read(20)
    channels = r.read(3) + 1
    bps = r.read(5) + 1
    total = r.read(36)
    md5_expect = streaminfo[18:34]

    chans: list[list[np.ndarray]] = [[] for _ in range(channels)]
    got = 0
    while got < total and pos < len(b):
        fr = _BitReader(b, pos)
        if fr.read(14) != _SYNC:
            raise ValueError("lost frame sync")
        fr.read(1)
        fr.read(1)
        bs_code = fr.read(4)
        rate_code = fr.read(4)
        chan_code = fr.read(4)
        bps_code = fr.read(3)
        fr.read(1)
        _utf8_decode(fr)
        if bs_code == 6:
            bs = fr.read(8) + 1
        elif bs_code == 7:
            bs = fr.read(16) + 1
        else:
            bs = _BLOCKSIZES[bs_code]
        if rate_code == 12:
            fr.read(8)
        elif rate_code in (13, 14):
            fr.read(16)
        hdr_len = fr.byte - pos
        if _crc8(b[pos : pos + hdr_len]) != fr.read(8):
            raise ValueError("frame header CRC-8 mismatch")
        f_bps = _BPS[bps_code] if bps_code in _BPS else bps

        if chan_code < 8:
            subs = [
                _read_subframe(fr, bs, f_bps) for _ in range(chan_code + 1)
            ]
        elif chan_code == 8:  # left-side
            left = _read_subframe(fr, bs, f_bps)
            side = _read_subframe(fr, bs, f_bps + 1)
            subs = [left, left - side]
        elif chan_code == 9:  # right-side
            side = _read_subframe(fr, bs, f_bps + 1)
            right = _read_subframe(fr, bs, f_bps)
            subs = [right + side, right]
        elif chan_code == 10:  # mid-side
            mid = _read_subframe(fr, bs, f_bps)
            side = _read_subframe(fr, bs, f_bps + 1)
            m2 = (mid << 1) | (side & 1)
            subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise ValueError(f"reserved channel assignment {chan_code}")
        fr.align()
        frame_bytes = b[pos : fr.byte]
        crc = int.from_bytes(b[fr.byte : fr.byte + 2], "big")
        if _crc16(frame_bytes) != crc:
            raise ValueError("frame CRC-16 mismatch")
        pos = fr.byte + 2
        for c, x in enumerate(subs):
            chans[c].append(x)
        got += bs

    samples = np.stack(
        [np.concatenate(c)[:total] for c in chans], axis=1
    ).astype(np.int32)
    if bps == 16:
        md5_got = hashlib.md5(samples.astype("<i2").tobytes()).digest()
        if md5_expect != b"\x00" * 16 and md5_got != md5_expect:
            raise ValueError("decoded-audio MD5 mismatch")
    return sample_rate, channels, bps, samples


# ---- LPC subframes ----------------------------------------------------------
#
# Quantized linear prediction: the path that gives FLAC its real
# compression on audio that isn't polynomial-predictable. Encoder:
# autocorrelation -> Levinson-Durbin -> coefficient quantization
# (the reference encoder's recipe); decoder: the spec's exact integer
# reconstruction sum >> shift. Everything integer after quantization,
# so round-trips are bit-exact by construction.


def _levinson_durbin(autoc: np.ndarray, order: int) -> np.ndarray:
    """LPC coefficients from autocorrelation (float, order <= len-1)."""
    err = autoc[0]
    coefs = np.zeros(order)
    for i in range(order):
        acc = autoc[i + 1] - np.dot(coefs[:i], autoc[i:0:-1][:i])
        k = acc / err if err != 0 else 0.0
        coefs[i] = k
        if i:
            coefs[:i] = coefs[:i] - k * coefs[i - 1 :: -1][:i]
        err *= 1 - k * k
        if err <= 0:
            break
    return coefs


def _quantize_lpc(coefs: np.ndarray, precision: int = 12) -> tuple[list[int], int]:
    """Quantize float LPC coefficients to ``precision``-bit ints and a
    right-shift, clamping to the representable range."""
    cmax = float(np.max(np.abs(coefs))) or 1.0
    # largest shift keeping max coef inside the signed precision range
    shift = precision - 1 - int(np.floor(np.log2(cmax))) - 1
    shift = max(0, min(15, shift))
    lo, hi = -(1 << (precision - 1)), (1 << (precision - 1)) - 1
    q = [int(max(lo, min(hi, round(c * (1 << shift))))) for c in coefs]
    return q, shift


def _write_lpc_subframe(
    w: _BitWriter, x: np.ndarray, bps: int, order: int = 8, precision: int = 12
) -> None:
    """LPC subframe: warmup, quantized-coefficient header, Rice
    residuals (single partition)."""
    n = len(x)
    xf = x.astype(np.float64)
    autoc = np.array(
        [np.dot(xf[: n - lag], xf[lag:]) for lag in range(order + 1)]
    )
    if autoc[0] == 0:  # digital silence — constant path handles it
        _write_subframe(w, x, bps)
        return
    qcoefs, shift = _quantize_lpc(_levinson_durbin(autoc, order), precision)
    # Vectorized prediction: row i of the sliding window is
    # x[i .. i+order-1]; qcoefs[j] multiplies x[i-1-j], so the window
    # dots against the REVERSED coefficients. int64 throughout
    # (|sum| <= order·2^precision·2^bps << 2^63) and numpy's >> is the
    # same arithmetic floor shift as Python's — bit-identical to the
    # scalar loop it replaces.
    xi = x.astype(np.int64)
    win = np.lib.stride_tricks.sliding_window_view(xi, order)[: n - order]
    pred = (win @ np.array(qcoefs[::-1], dtype=np.int64)) >> shift
    res = xi[order:] - pred
    w.write(0, 1)
    w.write(32 | (order - 1), 6)  # LPC, order
    w.write(0, 1)  # no wasted bits
    for i in range(order):
        w.write(int(x[i]) & ((1 << bps) - 1), bps)
    w.write(precision - 1, 4)
    w.write(shift, 5)  # signed 5-bit, but shift >= 0 here
    for c in qcoefs:
        w.write(c & ((1 << precision) - 1), precision)
    w.write(0, 2)  # 4-bit Rice
    w.write(0, 4)  # partition order 0
    k = _rice_param(res)
    w.write(k, 4)
    _write_rice_block(w, res, k)


def encode_flac_lpc(
    samples: np.ndarray,
    sample_rate: int = 16_000,
    block_size: int = 4096,
    order: int = 8,
) -> bytes:
    """Encode int16 PCM as FLAC using LPC subframes (quantized
    Levinson-Durbin predictors) — the higher-compression path; decoded
    by the same :func:`decode_flac_bytes`."""
    s = np.asarray(samples, dtype=np.int16)
    if s.ndim == 1:
        s = s[:, None]
    n, ch = s.shape
    bps = 16
    md5 = hashlib.md5(s.astype("<i2").tobytes()).digest()
    head = _BitWriter()
    head.write(0x80, 8)
    head.write(34, 24)
    head.write(block_size, 16)
    head.write(block_size, 16)
    head.write(0, 24)
    head.write(0, 24)
    head.write(sample_rate, 20)
    head.write(ch - 1, 3)
    head.write(bps - 1, 5)
    head.write(n, 36)
    out = bytearray(b"fLaC" + head.bytes() + md5)
    for fi, start in enumerate(range(0, n, block_size)):
        blk = s[start : start + block_size]
        bs = blk.shape[0]
        w = _BitWriter()
        w.write(_SYNC, 14)
        w.write(0, 1)
        w.write(0, 1)
        w.write(0b0111, 4)
        w.write(0b1101, 4)
        w.write(ch - 1, 4)
        w.write(0b100, 3)
        w.write(0, 1)
        for byte in _utf8_code(fi):
            w.write(byte, 8)
        w.write(bs - 1, 16)
        w.write(sample_rate, 16)
        hdr = bytes(w.buf)
        w.write(_crc8(hdr), 8)
        for c in range(ch):
            x = blk[:, c].astype(np.int64)
            if bs > 2 * order and not np.all(x == x[0]):
                _write_lpc_subframe(w, x, bps, order=order)
            else:
                _write_subframe(w, x, bps)
        w.align()
        frame = w.bytes()
        out += frame + _crc16(frame).to_bytes(2, "big")
    return bytes(out)
