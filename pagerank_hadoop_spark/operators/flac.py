"""FLAC lossless-audio decode — the honestly-decodable subset.

The audio twin of :mod:`pagerank_hadoop_spark.operators.h264`: a
from-scratch, stdlib+NumPy decoder for the subset of FLAC
(https://xiph.org/flac/format.html — published, public format) whose
decode needs NO entropy-coding tables, plus an INDEPENDENT spec-only
encoder twin used to build fixtures (the same discipline as
``h264_encode_ipcm`` / ``multimodal.jpeg_encode``: shared knowledge is
the published bitstream syntax only).

What decodes (and is pinned end-to-end by the ``media_flac_audio``
driver gate plus round-trip unit tests):

* stream layer — ``fLaC`` marker, metadata-block walk, mandatory
  STREAMINFO (block-size/frame-size ranges, 20-bit sample rate,
  channels, bits-per-sample, 36-bit total-sample count, and the
  16-byte MD5 of the unencoded audio, which the decoder RECOMPUTES
  from its own output and verifies — a real in-format integrity
  check, not a fixture convention);
* frame layer — sync code, blocking strategy, the table-free
  block-size codes 6/7 (explicit 8-/16-bit blocksize-1 field),
  sample-rate/sample-size codes 0 (defer to STREAMINFO), independent
  channel assignments, the UTF-8-style coded frame number, CRC-8
  (poly 0x07) over the header and CRC-16 (poly 0x8005) over the
  whole frame — both verified on every frame;
* subframe layer — ALL FOUR subframe types: CONSTANT (one value
  fills the block), VERBATIM (unencoded samples), FIXED (orders
  0..4), and LPC (orders 1..32: coefficient precision + quantization
  shift + signed coefficients, prediction-sum arithmetic-shifted),
  the last two with Rice-coded residuals — both RICE/RICE2 parameter
  widths, multi-partition residual layout with the shortened first
  partition, and the raw-bits escape — signed two's-complement at
  any bits-per-sample 4..32, including the wasted-bits-per-sample
  mechanism (unary count + left-shift on output);
* stereo decorrelation — channel assignments 8..10 (left/side,
  right/side, mid/side; the side channel at bps+1, mid's lost LSB
  recovered from the side's parity).

  Rice coding, the LPC predictor, and the decorrelation transforms
  are decoded here while CAVLC Table 9-5 is refused in ``h264.py``
  because they differ in KIND: each is a closed FORMULA (unary
  quotient + k-bit remainder + zigzag fold; coefficient dot-product
  >> shift; L/R±side algebra) validated by round-trip against the
  independent twin plus the same md5-pinned oracle discipline as the
  §8.3.1.2 intra-mode formulas, whereas Table 9-5 is 62x4 arbitrary
  codewords that no in-container source can confirm.

What is honestly refused, each with a typed error naming the stage:

* ``NotImplementedError`` — block-size codes 1..5 and 8..15 and
  sample-rate/sample-size table codes (compile-time lookup tables
  this container has no authoritative source to validate against —
  the encoder twin only ever emits the explicit/deferring codes, so
  nothing decodable refuses);
* ``ValueError`` — malformed streams: bad marker/sync, reserved
  bits set, reserved subframe types (2..7, 13..31), reserved
  residual coding methods (2..3), LPC precision code 15, negative
  LPC shift, a partition order that does not divide the block size,
  a decorrelated channel assignment in a non-stereo stream,
  CRC-8/CRC-16 mismatch, STREAMINFO-MD5 mismatch, truncated
  payloads.

The two CRCs are implemented TWICE on purpose — bitwise in the
encoder, table-driven in the decoder — so a transcription slip in
either implementation fails round-trip instead of cancelling out.

Scale shape: decode is per-payload data parallelism inside an
Arrow-batched ``mapInPandas`` kernel (:func:`flac_sample_stats`);
only fixed-width stats and a digest cross the shuffle, never samples.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Literal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# --------------------------------------------------------------------------
# CRCs. Encoder side: bitwise. Decoder side: table-driven (below).
# --------------------------------------------------------------------------


def _crc8_bitwise(data: bytes) -> int:
    """CRC-8, poly x^8+x^2+x^1+1 (0x07), init 0, MSB-first."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_bitwise(data: bytes) -> int:
    """CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0, MSB-first."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def _make_crc_table(poly: int, width: int) -> list[int]:
    mask = (1 << width) - 1
    top = 1 << (width - 1)
    table = []
    for b in range(256):
        crc = b << (width - 8)
        for _ in range(8):
            crc = ((crc << 1) ^ poly) & mask if crc & top else (crc << 1) & mask
        table.append(crc)
    return table


_CRC8_TABLE = _make_crc_table(0x07, 8)
_CRC16_TABLE = _make_crc_table(0x8005, 16)


def crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = _CRC8_TABLE[crc ^ b]
    return crc


def crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc = ((crc << 8) & 0xFFFF) ^ _CRC16_TABLE[(crc >> 8) ^ b]
    return crc


# --------------------------------------------------------------------------
# MSB-first bit I/O (FLAC packs all fields big-endian, MSB first).
# --------------------------------------------------------------------------


class _BitWriter:
    def __init__(self) -> None:
        self._out = bytearray()
        self._acc = 0
        self._nbits = 0

    def u(self, value: int, nbits: int) -> None:
        if value < 0 or value >> nbits:
            raise ValueError(f"{value} does not fit in {nbits} bits")
        self._acc = (self._acc << nbits) | value
        self._nbits += nbits
        while self._nbits >= 8:
            self._nbits -= 8
            self._out.append((self._acc >> self._nbits) & 0xFF)
        self._acc &= (1 << self._nbits) - 1

    def s(self, value: int, nbits: int) -> None:
        self.u(value & ((1 << nbits) - 1), nbits)

    def align(self) -> None:
        if self._nbits:
            self.u(0, 8 - self._nbits)

    def bytes(self) -> bytes:
        if self._nbits:
            raise ValueError("unaligned")
        return bytes(self._out)


class _BitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self._d = data
        self._byte = pos
        self._bit = 0

    @property
    def byte_pos(self) -> int:
        return self._byte

    @property
    def aligned(self) -> bool:
        return self._bit == 0

    def u(self, nbits: int) -> int:
        # bulk read: one int.from_bytes over the covered byte span
        # instead of a per-bit loop (the decode hot path)
        if nbits == 0:
            return 0
        end_bit = self._byte * 8 + self._bit + nbits
        end_byte = (end_bit + 7) >> 3
        if end_byte > len(self._d):
            raise ValueError("truncated FLAC bitstream")
        chunk = int.from_bytes(self._d[self._byte : end_byte], "big")
        v = (chunk >> ((end_byte << 3) - end_bit)) & ((1 << nbits) - 1)
        self._byte = end_bit >> 3
        self._bit = end_bit & 7
        return v

    def s(self, nbits: int) -> int:
        v = self.u(nbits)
        return v - (1 << nbits) if v >> (nbits - 1) else v

    def unary(self) -> int:
        # count zeros up to the terminating 1, skipping whole zero
        # bytes — Rice quotients are the other decode hot path
        n = 0
        while True:
            if self._byte >= len(self._d):
                raise ValueError("truncated FLAC bitstream")
            cur = self._d[self._byte] & (0xFF >> self._bit)
            if cur == 0:
                n += 8 - self._bit
                self._byte += 1
                self._bit = 0
                continue
            zeros = (8 - self._bit) - cur.bit_length()
            n += zeros
            self._bit += zeros + 1
            if self._bit >= 8:
                self._byte += 1
                self._bit -= 8
            return n

    def u_many(self, count: int, nbits: int) -> np.ndarray:
        """``count`` fixed-width unsigned fields in one vectorized
        unpackbits + matmul (the VERBATIM/warm-up bulk path)."""
        if count == 0 or nbits == 0:
            return np.zeros(count, dtype=np.int64)
        start = (self._byte << 3) + self._bit
        end = start + count * nbits
        last_byte = (end + 7) >> 3
        if last_byte > len(self._d):
            raise ValueError("truncated FLAC bitstream")
        first_byte = start >> 3
        bits = np.unpackbits(
            np.frombuffer(
                self._d, np.uint8, last_byte - first_byte, first_byte
            )
        )
        off = start - (first_byte << 3)
        m = bits[off : off + count * nbits].reshape(count, nbits)
        w = 1 << np.arange(nbits - 1, -1, -1, dtype=np.int64)
        v = m.astype(np.int64) @ w
        self._byte, self._bit = end >> 3, end & 7
        return v

    def s_many(self, count: int, nbits: int) -> np.ndarray:
        v = self.u_many(count, nbits)
        return np.where(v >> (nbits - 1) > 0, v - (1 << nbits), v)

    def rice_partition(self, count: int, p: int) -> np.ndarray:
        """Decode ``count`` Rice(p) codes vectorized: unpack a bounded
        window, walk the set-bit index for quotient terminators (the
        only sequential dependency), then gather every remainder in
        one fancy-indexed matmul. Window doubles on under-estimate —
        cost stays linear in actual coded bits."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        start = (self._byte << 3) + self._bit
        total_bits = len(self._d) << 3
        win = max(1 << 14, count * (p + 2) * 2)
        while True:
            end = min(start + win, total_bits)
            first_byte = start >> 3
            last_byte = (end + 7) >> 3
            bits = np.unpackbits(
                np.frombuffer(
                    self._d, np.uint8, last_byte - first_byte, first_byte
                )
            )
            base = first_byte << 3
            ones_arr = np.flatnonzero(bits) + base
            ones_arr = ones_arr[ones_arr >= start]
            # plain-int walk: numpy scalars in a tight loop cost ~5x
            ones = ones_arr.tolist()
            q_end_l: list[int] = []
            pos = start
            idx = 0
            n_ones = len(ones)
            step = 1 + p
            ok = True
            for _ in range(count):
                while idx < n_ones and ones[idx] < pos:
                    idx += 1
                if idx >= n_ones:
                    ok = False
                    break
                o = ones[idx]
                q_end_l.append(o)
                pos = o + step
                idx += 1
            if ok and pos <= end:
                q_end = np.array(q_end_l, dtype=np.int64)
                break
            if end >= total_bits:
                raise ValueError("truncated FLAC bitstream")
            win <<= 2
        starts = np.empty(count, dtype=np.int64)
        starts[0] = start
        starts[1:] = q_end[:-1] + 1 + p
        u = (q_end - starts) << p
        if p:
            ridx = (q_end + 1 - base)[:, None] + np.arange(p)
            w = 1 << np.arange(p - 1, -1, -1, dtype=np.int64)
            u = u | (bits[ridx].astype(np.int64) @ w)
        self._byte, self._bit = pos >> 3, pos & 7
        return np.where(u & 1, -((u + 1) >> 1), u >> 1)

    def align(self) -> None:
        if self._bit:
            if self.u(8 - self._bit):
                raise ValueError("nonzero frame padding bits")


# --------------------------------------------------------------------------
# UTF-8-style coded number (frame/sample number field).
# --------------------------------------------------------------------------


def _utf8_like_encode(n: int) -> bytes:
    if n < 0x80:
        return bytes([n])
    out = []
    nbytes = 2
    while n >= (1 << (7 - nbytes + 6 * (nbytes - 1))) and nbytes < 7:
        # capacity of an nbytes sequence: (7 - nbytes) + 6*(nbytes-1) bits
        nbytes += 1
    lead_bits = 7 - nbytes
    body = n
    tail = []
    for _ in range(nbytes - 1):
        tail.append(0x80 | (body & 0x3F))
        body >>= 6
    lead_mask = (0xFF << (lead_bits + 1)) & 0xFF
    if body >> lead_bits:
        raise ValueError(f"{n} too large for UTF-8-style coding")
    out.append(lead_mask | body)
    out.extend(reversed(tail))
    return bytes(out)


def _utf8_like_decode(r: _BitReader) -> int:
    b0 = r.u(8)
    if b0 < 0x80:
        return b0
    nbytes = 0
    probe = b0
    while probe & 0x80:
        nbytes += 1
        probe = (probe << 1) & 0xFF
    if nbytes < 2 or nbytes > 7:
        raise ValueError(f"invalid coded-number lead byte 0x{b0:02x}")
    v = b0 & (0x7F >> nbytes)
    for _ in range(nbytes - 1):
        b = r.u(8)
        if b & 0xC0 != 0x80:
            raise ValueError(f"invalid coded-number continuation 0x{b:02x}")
        v = (v << 6) | (b & 0x3F)
    return v


# --------------------------------------------------------------------------
# Encoder twin (fixture writer).
# --------------------------------------------------------------------------


def _audio_md5(samples: np.ndarray, bits_per_sample: int) -> bytes:
    """MD5 of the unencoded audio: channel-interleaved sample frames,
    each sample little-endian signed, ceil(bps/8) bytes."""
    nbytes = (bits_per_sample + 7) // 8
    flat = samples.astype(np.int64).reshape(-1)  # row-major = interleaved
    span = 1 << (8 * nbytes)
    # vectorized little-endian packing: view the mod-span values as LE
    # uint64 byte lanes and keep the low `nbytes` of each
    u = (flat % span).astype("<u8")
    buf = u.view(np.uint8).reshape(-1, 8)[:, :nbytes].tobytes()
    return hashlib.md5(buf).digest()


# FIXED predictor: order-o residual is the o-th forward difference;
# reconstruction coefficients per ISO-free public FLAC format docs
_FIXED_COEF = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _zigzag(v: int) -> int:
    return (v << 1) if v >= 0 else (((-v) << 1) - 1)


def _rice_write(
    w: _BitWriter, residuals: list[int], escape: bool, pbits: int = 4
) -> None:
    """One residual partition: pick the cheapest Rice parameter (or
    the raw-bits escape), write parameter + coded residuals. ``pbits``
    is the parameter field width: 4 for method 0 (RICE), 5 for
    method 1 (RICE2)."""
    esc_code = (1 << pbits) - 1
    uz = [_zigzag(v) for v in residuals]
    rawbits = max(
        ((v if v >= 0 else -v - 1).bit_length() + 1 for v in residuals),
        default=0,
    ) if any(residuals) else 0
    if escape or not uz:
        best_p = None
    else:
        cost, best_p = min(
            (sum(u >> p for u in uz) + len(uz) * (p + 1), p)
            for p in range(esc_code)
        )
        if 5 + rawbits * len(uz) < cost:
            best_p = None
    if best_p is None:
        w.u(esc_code, pbits)  # escape code
        w.u(rawbits, 5)
        for v in residuals:
            if rawbits:
                w.s(v, rawbits)
    else:
        w.u(best_p, pbits)
        for u in uz:
            w.u(1, (u >> best_p) + 1)  # unary quotient: q zeros then 1
            if best_p:
                w.u(u & ((1 << best_p) - 1), best_p)


def _write_subframe(
    w2: _BitWriter,
    vals: list[int],
    sub_bps: int,
    *,
    wasted_bits: int,
    force_verbatim: bool,
    fixed_order: int | None,
    partition_order: int,
    rice_escape: bool,
    lpc_coef: list[int] | None,
    lpc_shift: int,
    rice_method: int = 0,
) -> None:
    """One subframe at ``sub_bps`` bits (bps+1 for a side channel).
    Preference order: LPC (if requested and the block is long enough)
    → FIXED (ditto) → CONSTANT → VERBATIM; a block shorter than the
    predictor order falls through, as real encoders do."""
    bs = len(vals)
    eff = sub_bps - wasted_bits
    const = bool(bs) and all(v == vals[0] for v in vals)
    w2.u(0, 1)  # subframe zero bit

    def _wasted_flag() -> None:
        if wasted_bits:
            w2.u(1, 1)
            w2.u(1, wasted_bits)  # unary wasted_bits: k-1 zeros, 1
        else:
            w2.u(0, 1)

    def _residual(res: list[int], order: int) -> None:
        po = partition_order
        # strict >: RFC 9639 forbids bs >> po == order (empty first
        # partition); mirror of the decoder's conformance check
        while po and (bs % (1 << po) or (bs >> po) <= order):
            po -= 1
        w2.u(rice_method, 2)  # 0 = RICE (4-bit), 1 = RICE2 (5-bit)
        w2.u(po, 4)
        pbits = 4 if rice_method == 0 else 5
        idx = 0
        for part in range(1 << po):
            cnt = (bs >> po) - (order if part == 0 else 0)
            _rice_write(w2, res[idx : idx + cnt], rice_escape, pbits)
            idx += cnt

    if lpc_coef is not None and not force_verbatim and len(lpc_coef) < bs:
        order = len(lpc_coef)
        if not 1 <= order <= 32:
            raise ValueError(f"LPC order {order} out of 1..32")
        if not 0 <= lpc_shift <= 15:
            raise ValueError(f"lpc_shift {lpc_shift} out of 0..15")
        prec = max(
            max(
                (v if v >= 0 else -v - 1).bit_length() + 1
                for v in lpc_coef
            ),
            2,
        )
        if prec > 15:
            raise ValueError("LPC coefficients exceed 15 bits")
        eff_vals = [v >> wasted_bits for v in vals]
        w2.u(31 + order, 6)  # LPC
        _wasted_flag()
        for v in eff_vals[:order]:  # warm-up
            w2.s(v, eff)
        w2.u(prec - 1, 4)
        w2.s(lpc_shift, 5)
        for cf in lpc_coef:
            w2.s(cf, prec)
        res = [
            eff_vals[i]
            - (
                sum(
                    cf * eff_vals[i - 1 - j]
                    for j, cf in enumerate(lpc_coef)
                )
                >> lpc_shift
            )
            for i in range(order, bs)
        ]
        _residual(res, order)
    elif fixed_order is not None and not force_verbatim:
        order = min(fixed_order, 4, bs - 1)
        eff_vals = [v >> wasted_bits for v in vals]
        w2.u(8 + order, 6)  # FIXED
        _wasted_flag()
        for v in eff_vals[:order]:  # warm-up
            w2.s(v, eff)
        res = eff_vals
        for _ in range(order):
            res = [b - a for a, b in zip(res, res[1:])]
        _residual(res, order)
    elif const and not force_verbatim:
        w2.u(0, 6)  # CONSTANT
        _wasted_flag()
        w2.s(vals[0] >> wasted_bits, eff)
    else:
        w2.u(1, 6)  # VERBATIM
        _wasted_flag()
        for x in vals:
            w2.s(x >> wasted_bits, eff)


def flac_encode(
    samples: np.ndarray,
    sample_rate: int,
    bits_per_sample: int = 16,
    block_size: int = 4096,
    wasted_bits: int = 0,
    force_verbatim: bool = False,
    fixed_order: int | None = None,
    partition_order: int = 0,
    rice_escape: bool = False,
    lpc_coef: list[int] | None = None,
    lpc_shift: int = 0,
    stereo_mode: str | None = None,
    tags: list[tuple[str, str]] | None = None,
    vendor: str = "",
    padding: int = 0,
    seek_points: Literal["auto"] | list[tuple[int, int, int]] | None = None,
    pictures: list[dict] | None = None,
    rice_method: int = 0,
    block_sizes: list[int] | None = None,
) -> bytes:
    """Independent spec-twin FLAC writer (constant/verbatim subset).

    ``samples``: int array of shape (n_samples, channels). Each
    channel of each block is written as a CONSTANT subframe when all
    its samples are equal (unless ``force_verbatim``), else VERBATIM.
    ``wasted_bits > 0`` requires every sample divisible by
    2**wasted_bits and exercises the unary wasted-bits path.
    ``seek_points`` is either an explicit list of
    (sample_number, byte_offset, n_samples) triples, or the string
    sentinel ``"auto"`` to emit one spec-correct seekpoint per frame
    with byte offsets patched in after serialization. Always
    emits blocking strategy 0 with explicit block-size fields (codes
    6/7) and STREAMINFO-deferring sample-rate/size codes, so every
    stream this writer produces is inside the decodable subset.
    """
    samples = np.asarray(samples)
    if samples.ndim != 2:
        raise ValueError("samples must be (n_samples, channels)")
    n_total, channels = samples.shape
    if not 1 <= channels <= 8:
        raise ValueError(f"channels {channels} out of range 1..8")
    if not 4 <= bits_per_sample <= 32:
        raise ValueError(f"bits_per_sample {bits_per_sample} out of 4..32")
    if wasted_bits and np.any(samples % (1 << wasted_bits)):
        raise ValueError("wasted_bits requires divisible samples")
    lo = -(1 << (bits_per_sample - 1))
    hi = (1 << (bits_per_sample - 1)) - 1
    if samples.min(initial=0) < lo or samples.max(initial=0) > hi:
        raise ValueError(f"samples exceed {bits_per_sample}-bit range")
    if stereo_mode is not None:
        if stereo_mode not in ("left_side", "right_side", "mid_side"):
            raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
        if channels != 2:
            raise ValueError("stereo_mode requires exactly 2 channels")
        if wasted_bits:
            raise ValueError("stereo_mode with wasted_bits not supported")
    if not 16 <= block_size <= 65535:
        raise ValueError(f"block_size {block_size} out of range 16..65535")
    if n_total < 1:
        raise ValueError("need at least one sample")
    if block_sizes is not None:
        # VARIABLE-blocksize stream (blocking strategy 1): the caller
        # partitions the samples exactly; every block must be a legal
        # size on its own (no last-block exemption — the sizes are
        # explicit), and the frame header codes the first SAMPLE
        # number instead of the frame number
        if sum(block_sizes) != n_total:
            raise ValueError(
                f"block_sizes sum {sum(block_sizes)} != {n_total} samples"
            )
        if any(not 16 <= b <= 65535 for b in block_sizes):
            raise ValueError("every variable block size must be 16..65535")
        if len(set(block_sizes)) == 1:
            # RFC 9639 §8.2: STREAMINFO min==max declares a
            # FIXED-blocksize stream, which would contradict the
            # blocking-strategy-1 frame headers we are about to write
            # (and make strict decoders read coded sample numbers as
            # frame numbers). All-equal sizes must use the fixed path.
            raise ValueError(
                "all-equal block_sizes encode a fixed-blocksize stream; "
                "use block_size= instead"
            )

    out = bytearray(b"fLaC")
    si = _BitWriter()
    if block_sizes is not None:
        n_blocks = len(block_sizes)
        si.u(min(block_sizes), 16)  # min block size (true, variable)
        si.u(max(block_sizes), 16)  # max block size
    else:
        n_blocks = max(1, -(-n_total // block_size))
        # min/max blocksize EXCLUDE the last block (spec: a stream
        # where every block has the same size is "fixed-blocksize"
        # regardless of a short tail), so both fields carry
        # block_size — values < 16 would be nonconformant
        si.u(block_size, 16)  # min block size
        si.u(block_size, 16)  # max block size
    si.u(0, 24)  # min frame size unknown
    si.u(0, 24)  # max frame size unknown
    si.u(sample_rate, 20)
    si.u(channels - 1, 3)
    si.u(bits_per_sample - 1, 5)
    si.u(n_total, 36)
    body = si.bytes() + _audio_md5(samples, bits_per_sample)
    extra: list[tuple[int, bytes]] = []
    if tags is not None or vendor:
        vb = vendor.encode("utf-8")
        tb = bytearray(len(vb).to_bytes(4, "little") + vb)
        tb += len(tags or []).to_bytes(4, "little")
        for k, v in tags or []:
            item = f"{k}={v}".encode("utf-8")
            tb += len(item).to_bytes(4, "little") + item
        extra.append((4, bytes(tb)))  # VORBIS_COMMENT
    auto_seek = seek_points == "auto"
    if auto_seek:
        # one seekpoint per frame; byte offsets are patched in after
        # the frames are serialized (they are relative to the FIRST
        # FRAME byte, so the table's own size does not perturb them)
        starts = (
            [sum(block_sizes[:i]) for i in range(n_blocks)]
            if block_sizes is not None
            else [fi * block_size for fi in range(n_blocks)]
        )
        seek_points = [
            (
                starts[fi],
                0,
                (
                    block_sizes[fi]
                    if block_sizes is not None
                    else min(block_size, n_total - starts[fi])
                ),
            )
            for fi in range(n_blocks)
        ]
    seek_body_pos = None
    if seek_points:
        stb = bytearray()
        for sp_sample, sp_offset, sp_n in seek_points:
            stb += sp_sample.to_bytes(8, "big")
            stb += sp_offset.to_bytes(8, "big")
            stb += sp_n.to_bytes(2, "big")
        extra.append((3, bytes(stb)))  # SEEKTABLE
    for pic in pictures or []:
        mime = pic.get("mime", "image/bmp").encode("ascii")
        desc = pic.get("description", "").encode("utf-8")
        data = pic["data"]
        pb = bytearray(int(pic.get("pic_type", 3)).to_bytes(4, "big"))
        pb += len(mime).to_bytes(4, "big") + mime
        pb += len(desc).to_bytes(4, "big") + desc
        pb += int(pic.get("width", 0)).to_bytes(4, "big")
        pb += int(pic.get("height", 0)).to_bytes(4, "big")
        pb += int(pic.get("depth", 0)).to_bytes(4, "big")
        pb += int(pic.get("n_colors", 0)).to_bytes(4, "big")
        pb += len(data).to_bytes(4, "big") + data
        extra.append((6, bytes(pb)))  # PICTURE
    if padding:
        extra.append((1, bytes(padding)))  # PADDING
    out.append((0x80 if not extra else 0x00) | 0)  # STREAMINFO
    out += len(body).to_bytes(3, "big")
    out += body
    for i, (btype, bbody) in enumerate(extra):
        if btype == 3:
            seek_body_pos = len(out) + 4
        out.append((0x80 if i == len(extra) - 1 else 0x00) | btype)
        out += len(bbody).to_bytes(3, "big")
        out += bbody

    frames_start = len(out)
    frame_offsets = []
    for fi in range(n_blocks):
        frame_offsets.append(len(out) - frames_start)
        if block_sizes is not None:
            start = sum(block_sizes[:fi])
            blk = samples[start : start + block_sizes[fi]]
        else:
            start = fi * block_size
            blk = samples[start : start + block_size]
        bs = blk.shape[0]
        w = _BitWriter()
        w.u(0x3FFE, 14)  # sync
        w.u(0, 1)  # reserved
        # blocking strategy: 1 codes the first SAMPLE number per
        # frame (variable), 0 the frame number (fixed)
        w.u(1 if block_sizes is not None else 0, 1)
        w.u(7 if bs > 256 else 6, 4)  # block size: explicit field
        w.u(0, 4)  # sample rate: STREAMINFO
        if stereo_mode is None:
            w.u(channels - 1, 4)  # independent channels
            subs = [
                ([int(v) for v in blk[:, c].tolist()], bits_per_sample)
                for c in range(channels)
            ]
        else:
            code = {"left_side": 8, "right_side": 9, "mid_side": 10}[
                stereo_mode
            ]
            w.u(code, 4)
            left = [int(v) for v in blk[:, 0].tolist()]
            right = [int(v) for v in blk[:, 1].tolist()]
            side = [x - y for x, y in zip(left, right)]
            if code == 8:
                subs = [(left, bits_per_sample), (side, bits_per_sample + 1)]
            elif code == 9:
                subs = [(side, bits_per_sample + 1), (right, bits_per_sample)]
            else:
                mid = [(x + y) >> 1 for x, y in zip(left, right)]
                subs = [(mid, bits_per_sample), (side, bits_per_sample + 1)]
        w.u(0, 3)  # sample size: STREAMINFO
        w.u(0, 1)  # reserved
        for b in _utf8_like_encode(
            start if block_sizes is not None else fi
        ):
            w.u(b, 8)
        w.u(bs - 1, 16 if bs > 256 else 8)
        header = w.bytes()
        w2 = _BitWriter()
        for vals, sub_bps in subs:
            _write_subframe(
                w2,
                vals,
                sub_bps,
                wasted_bits=wasted_bits,
                force_verbatim=force_verbatim,
                fixed_order=fixed_order,
                partition_order=partition_order,
                rice_escape=rice_escape,
                lpc_coef=lpc_coef,
                lpc_shift=lpc_shift,
                rice_method=rice_method,
            )
        w2.align()
        frame = (
            header + _crc8_bitwise(header).to_bytes(1, "big") + w2.bytes()
        )
        # decoder uses the table CRCs; writer uses the bitwise ones so
        # a table transcription slip breaks round-trip, not silently
        frame += _crc16_bitwise(frame).to_bytes(2, "big")
        out += frame
    if auto_seek and seek_body_pos is not None:
        for i, off in enumerate(frame_offsets):
            pos = seek_body_pos + 18 * i + 8
            out[pos : pos + 8] = off.to_bytes(8, "big")
    return bytes(out)


# --------------------------------------------------------------------------
# Metadata-only walk (no frame decode).
# --------------------------------------------------------------------------


def flac_meta(payload: bytes) -> dict:
    """Walk the metadata blocks only — the cheap catalog pass a media
    pipeline runs before deciding what to decode. Returns STREAMINFO
    fields, per-type block counts, PADDING byte total, SEEKTABLE point
    count, and the VORBIS_COMMENT vendor string + tags (keys
    uppercased per the Vorbis-comment case-insensitivity rule). The
    audio frames are never touched."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC marker)")
    pos = 4
    meta = {
        "sample_rate": None,
        "channels": None,
        "bits_per_sample": None,
        "total_samples": None,
        "n_blocks": 0,
        "padding_bytes": 0,
        "seek_points": 0,
        "vendor": "",
        "tags": {},
        "pictures": [],
    }
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        last = payload[pos] >> 7
        btype = payload[pos] & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated metadata block")
        meta["n_blocks"] += 1
        if btype == 0:
            if blen != 34:
                raise ValueError(f"STREAMINFO length {blen} != 34")
            r = _BitReader(body)
            r.u(16), r.u(16), r.u(24), r.u(24)
            meta["sample_rate"] = r.u(20)
            meta["channels"] = r.u(3) + 1
            meta["bits_per_sample"] = r.u(5) + 1
            meta["total_samples"] = r.u(36)
        elif btype == 1:
            meta["padding_bytes"] += blen
        elif btype == 3:
            if blen % 18:
                raise ValueError("SEEKTABLE length not a multiple of 18")
            meta["seek_points"] += blen // 18
        elif btype == 4:
            p = 0
            vlen = int.from_bytes(body[p : p + 4], "little")
            p += 4
            meta["vendor"] = body[p : p + vlen].decode("utf-8")
            p += vlen
            ntags = int.from_bytes(body[p : p + 4], "little")
            p += 4
            for _ in range(ntags):
                ilen = int.from_bytes(body[p : p + 4], "little")
                p += 4
                item = body[p : p + ilen].decode("utf-8")
                p += ilen
                k, _, v = item.partition("=")
                meta["tags"][k.upper()] = v
            if p != len(body):
                raise ValueError("trailing bytes in VORBIS_COMMENT block")
        elif btype == 6:  # PICTURE (all fields big-endian)
            p = 0

            def _u32() -> int:
                nonlocal p
                v = int.from_bytes(body[p : p + 4], "big")
                p += 4
                return v

            pic_type = _u32()
            mlen = _u32()
            mime = body[p : p + mlen].decode("ascii")
            p += mlen
            dlen = _u32()
            desc = body[p : p + dlen].decode("utf-8")
            p += dlen
            width, height, depth, n_colors = _u32(), _u32(), _u32(), _u32()
            datalen = _u32()
            data = body[p : p + datalen]
            p += datalen
            if p != len(body) or len(data) != datalen:
                raise ValueError("malformed PICTURE block")
            meta["pictures"].append(
                {
                    "pic_type": pic_type,
                    "mime": mime,
                    "description": desc,
                    "width": width,
                    "height": height,
                    "depth": depth,
                    "n_colors": n_colors,
                    "data": data,
                }
            )
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + blen
        if last:
            break
    if meta["sample_rate"] is None:
        raise ValueError("missing mandatory STREAMINFO block")
    return meta


# --------------------------------------------------------------------------
# Decoder.
# --------------------------------------------------------------------------


def _read_subframe(r: _BitReader, bs: int, sub_bps: int) -> np.ndarray:
    """One subframe at ``sub_bps`` bits (bps+1 for a side channel):
    CONSTANT / VERBATIM / FIXED / LPC, wasted-bits, Rice or escaped
    residual partitions. Returns ``bs`` reconstructed samples
    (np.int64). VERBATIM/warm-up fields, Rice partitions, and FIXED
    reconstruction are all vectorized; only the LPC recurrence (a
    genuine IIR dependency) stays a per-sample loop."""
    if r.u(1):
        raise ValueError("subframe padding bit set")
    stype = r.u(6)
    if stype not in (0, 1) and not 8 <= stype <= 12 and stype < 32:
        raise ValueError(f"reserved subframe type {stype}")
    wasted = 0
    if r.u(1):
        wasted = r.unary() + 1
    eff = sub_bps - wasted
    if eff <= 0:
        raise ValueError(f"wasted bits {wasted} >= bps {sub_bps}")
    if stype == 0:
        return np.full(bs, r.s(eff) << wasted, dtype=np.int64)
    if stype == 1:
        return r.s_many(bs, eff) << wasted
    # predicted: FIXED order 0..4 or LPC order 1..32
    order = stype - 31 if stype >= 32 else stype - 8
    if bs < order:
        raise ValueError(f"block size {bs} < predictor order {order}")
    warm = r.s_many(order, eff)
    if stype >= 32:  # LPC coefficient section
        prec = r.u(4)
        if prec == 15:
            raise ValueError("invalid LPC coefficient precision code 15")
        prec += 1
        shift = r.s(5)
        if shift < 0:
            raise ValueError(f"negative LPC quantization shift {shift}")
        coef = [r.s(prec) for _ in range(order)]
    else:
        shift = 0
        coef = _FIXED_COEF[order]
    method = r.u(2)
    if method >= 2:
        raise ValueError(f"reserved residual coding method {method}")
    pbits = 4 if method == 0 else 5
    esc = (1 << pbits) - 1
    po = r.u(4)
    if bs % (1 << po):
        raise ValueError(
            f"partition order {po} does not divide block size {bs}"
        )
    if (bs >> po) <= order:
        # RFC 9639: block_size >> partition_order must be STRICTLY
        # larger than the predictor order (an empty first partition
        # is nonconformant)
        raise ValueError(
            f"partition size {bs >> po} <= predictor order {order}"
        )
    parts = []
    for part in range(1 << po):
        cnt = (bs >> po) - (order if part == 0 else 0)
        p = r.u(pbits)
        if p == esc:
            rawbits = r.u(5)
            parts.append(
                r.s_many(cnt, rawbits)
                if rawbits
                else np.zeros(cnt, dtype=np.int64)
            )
        else:
            parts.append(r.rice_partition(cnt, p))
    res = np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)
    if stype < 32:
        # FIXED: the order-o residual is the o-th forward difference,
        # so reconstruction is o nested prefix sums seeded from the
        # warm-up's difference pyramid
        diffs = [warm]
        for _ in range(order):
            diffs.append(np.diff(diffs[-1]))
        seq = res
        for k in range(order, 0, -1):
            seq = diffs[k - 1][-1] + np.cumsum(seq)
        out = np.concatenate([warm, seq])
    else:
        # LPC is an IIR recurrence (each sample feeds the next
        # prediction through the quantization shift) — per-sample by
        # nature. Python ints; >> on negatives is the spec's
        # arithmetic-shift semantics.
        x = [int(v) for v in warm]
        for rv in res.tolist():
            x.append(
                rv
                + (
                    sum(cf * x[-1 - j] for j, cf in enumerate(coef))
                    >> shift
                )
            )
        out = np.array(x, dtype=np.int64)
    return out << wasted


def flac_decode(payload: bytes) -> dict:
    """Decode a FLAC stream in the constant/verbatim/FIXED subset.

    Returns ``{"sample_rate", "channels", "bits_per_sample",
    "total_samples", "samples" (np.int64 (n, channels)), "n_frames"}``.
    Verifies CRC-8 per frame header, CRC-16 per frame, and the
    STREAMINFO MD5 against the decoded output. Typed refusals per the
    module docstring.
    """
    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC marker)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        last = payload[pos] >> 7
        btype = payload[pos] & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        if pos + 4 + blen > len(payload):
            raise ValueError("truncated metadata block")
        if btype == 0:
            if blen != 34:
                raise ValueError(f"STREAMINFO length {blen} != 34")
            streaminfo = payload[pos + 4 : pos + 38]
        elif btype == 127:
            raise ValueError("invalid metadata block type 127")
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing mandatory STREAMINFO block")
    r = _BitReader(streaminfo)
    r.u(16)  # min block size
    r.u(16)  # max block size
    r.u(24)  # min frame size
    r.u(24)  # max frame size
    sample_rate = r.u(20)
    channels = r.u(3) + 1
    bps = r.u(5) + 1
    total = r.u(36)
    md5_claim = streaminfo[18:34]

    frames: list[np.ndarray] = []
    n_frames = 0
    while pos < len(payload):
        frame, _coded, _blk, pos = _decode_frame_at(
            payload, pos, channels, bps
        )
        frames.append(frame)
        n_frames += 1

    cols = (
        np.concatenate(frames, axis=0)
        if frames
        else np.zeros((0, channels), dtype=np.int64)
    )
    n_dec = cols.shape[0]
    if total and n_dec != total:
        raise ValueError(
            f"decoded {n_dec} samples, STREAMINFO says {total}"
        )
    samples = cols
    if _audio_md5(samples, bps) != md5_claim:
        raise ValueError("decoded audio MD5 does not match STREAMINFO")
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "bits_per_sample": bps,
        "total_samples": n_dec,
        "n_frames": n_frames,
        "samples": samples,
    }


def _decode_frame_at(payload: bytes, pos: int, channels: int, bps: int):
    """Decode exactly ONE frame starting at byte ``pos`` (which must
    be a frame-sync boundary): full header parse + CRC-8, all
    subframes, stereo decorrelation, padding + CRC-16. Returns
    ``(samples (block_size, channels) int64, coded_number,
    blocking_strategy, next_pos)`` — the random-access primitive
    behind :func:`flac_decode_frame_at`; :func:`flac_decode` is just
    this in a loop. ``coded_number`` is the header's UTF-8-style
    coded frame (fixed-blocksize, strategy 0) or first-sample
    (variable-blocksize, strategy 1) number."""
    frame_start = pos
    r = _BitReader(payload, pos)
    if r.u(14) != 0x3FFE:
        raise ValueError(f"bad frame sync at byte {frame_start}")
    if r.u(1):
        raise ValueError("reserved bit set in frame header")
    blocking = r.u(1)  # blocking strategy (either is parseable here)
    bs_code = r.u(4)
    sr_code = r.u(4)
    ch_code = r.u(4)
    ss_code = r.u(3)
    if r.u(1):
        raise ValueError("reserved bit set in frame header")
    coded_number = _utf8_like_decode(r)
    if bs_code == 6:
        bs = r.u(8) + 1
    elif bs_code == 7:
        bs = r.u(16) + 1
    elif bs_code == 0:
        raise ValueError("reserved block-size code 0")
    else:
        raise NotImplementedError(
            f"block-size table code {bs_code} needs the compile-time "
            "block-size table (no authoritative source in this "
            "container to validate against); the encoder twin only "
            "emits explicit codes 6/7"
        )
    if sr_code != 0:
        raise NotImplementedError(
            f"sample-rate code {sr_code} needs the sample-rate table; "
            "only code 0 (defer to STREAMINFO) decodes"
        )
    if ss_code != 0:
        raise NotImplementedError(
            f"sample-size code {ss_code} needs the sample-size table; "
            "only code 0 (defer to STREAMINFO) decodes"
        )
    if ch_code >= 11:
        raise ValueError(f"reserved channel assignment {ch_code}")
    if ch_code >= 8 and channels != 2:
        raise ValueError(
            f"decorrelated channel assignment {ch_code} in a "
            f"{channels}-channel stream"
        )
    if ch_code < 8 and ch_code + 1 != channels:
        raise ValueError(
            f"frame channel count {ch_code + 1} != STREAMINFO {channels}"
        )
    header_bytes = payload[frame_start : r.byte_pos]
    if not r.aligned:
        raise ValueError("frame header not byte-aligned before CRC-8")
    if r.u(8) != crc8(header_bytes):
        raise ValueError(f"frame header CRC-8 mismatch at {frame_start}")
    chans: list[np.ndarray] = []
    if ch_code < 8:
        for c in range(channels):
            chans.append(_read_subframe(r, bs, bps))
    else:
        # stereo decorrelation: the SIDE channel (L-R) carries one
        # extra bit of range; mid is the floor-average with its
        # lost LSB recovered from the side's parity
        bps0 = bps + (1 if ch_code == 9 else 0)
        bps1 = bps + (1 if ch_code != 9 else 0)
        a = _read_subframe(r, bs, bps0)
        b = _read_subframe(r, bs, bps1)
        if ch_code == 8:  # left/side
            left, right = a, a - b
        elif ch_code == 9:  # right/side (side first)
            left, right = b + a, b
        else:  # mid/side
            m2 = (a << 1) | (b & 1)
            left, right = (m2 + b) >> 1, (m2 - b) >> 1
        chans = [left, right]
    r.align()
    if not r.aligned:
        raise ValueError("frame not byte-aligned before CRC-16")
    body = payload[frame_start : r.byte_pos]
    if r.u(16) != crc16(body):
        raise ValueError(f"frame CRC-16 mismatch at {frame_start}")
    return np.stack(chans, axis=1), coded_number, blocking, r.byte_pos


# --------------------------------------------------------------------------
# Spark kernel.
# --------------------------------------------------------------------------

FLAC_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("energy", LongType()),
        StructField("peak", LongType()),
        StructField("samples_md5", StringType()),
    ]
)


def flac_sample_stats(media: DataFrame) -> DataFrame:
    """REAL FLAC decode per payload → audio stats: per-channel sample
    count, frame count, energy (Σ x² over all channels), peak
    (max |x|), and the md5 over the decimal-CSV of the interleaved
    samples (every decoded sample value pinned, the same convention
    as the H.264 ``y_md5``). Arrow-batched ``mapInPandas``; decode
    parallelism is per-payload, only stats cross the shuffle."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def stats(payload: bytes):
            d = flac_decode(bytes(payload))
            vals = d["samples"].reshape(-1).tolist()
            # Python-int accumulation: int64 Σx² silently wraps past
            # ~16-bit samples (24/32-bit audio squares reach 2^62)
            return (
                d["sample_rate"],
                d["channels"],
                d["total_samples"],
                d["n_frames"],
                sum(v * v for v in vals),
                max((abs(v) for v in vals), default=0),
                hashlib.md5(
                    ",".join(str(v) for v in vals).encode()
                ).hexdigest(),
            )

        for pdf in it:
            d = pdf["payload"].map(stats)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": d.map(lambda t: t[0]).astype("int32"),
                    "channels": d.map(lambda t: t[1]).astype("int32"),
                    "n_samples": d.map(lambda t: t[2]).astype("int64"),
                    "n_frames": d.map(lambda t: t[3]).astype("int32"),
                    "energy": d.map(lambda t: t[4]).astype("int64"),
                    "peak": d.map(lambda t: t[5]).astype("int64"),
                    "samples_md5": d.map(lambda t: t[6]),
                }
            )

    return media.mapInPandas(batches, FLAC_SCHEMA)


META_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("total_samples", LongType()),
        StructField("n_blocks", IntegerType()),
        StructField("n_tags", IntegerType()),
        StructField("padding_bytes", LongType()),
        StructField("vendor", StringType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
    ]
)


def flac_meta_stats(media: DataFrame) -> DataFrame:
    """Metadata catalog pass: :func:`flac_meta` per payload (frames
    never decoded — the scan cost is the metadata prefix, not the
    audio), TITLE/ARTIST pulled from the Vorbis comments. Same Arrow
    ``mapInPandas`` shape as :func:`flac_sample_stats`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def one(payload: bytes):
            m = flac_meta(bytes(payload))
            return (
                m["sample_rate"],
                m["channels"],
                m["total_samples"],
                m["n_blocks"],
                len(m["tags"]),
                m["padding_bytes"],
                m["vendor"],
                m["tags"].get("TITLE"),
                m["tags"].get("ARTIST"),
            )

        for pdf in it:
            d = pdf["payload"].map(one)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "sample_rate": d.map(lambda t: t[0]).astype("int32"),
                    "channels": d.map(lambda t: t[1]).astype("int32"),
                    "total_samples": d.map(lambda t: t[2]).astype("int64"),
                    "n_blocks": d.map(lambda t: t[3]).astype("int32"),
                    "n_tags": d.map(lambda t: t[4]).astype("int32"),
                    "padding_bytes": d.map(lambda t: t[5]).astype("int64"),
                    "vendor": d.map(lambda t: t[6]),
                    "title": d.map(lambda t: t[7]),
                    "artist": d.map(lambda t: t[8]),
                }
            )

    return media.mapInPandas(batches, META_SCHEMA)


FREQ_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("dom_bin", IntegerType()),
    ]
)


def flac_dominant_freq(media: DataFrame) -> DataFrame:
    """Spectral profile over DECODED FLAC audio: full decode
    (:func:`flac_decode` — subframes, Rice, CRCs, MD5), then the same
    dominant-bin rule as ``multimodal.wav_dominant_freq``
    (``argmax_{1 <= b <= n/2} |X_b|`` over the channel-mean signal,
    DC excluded) — the tone/silence-artifact filter an audio corpus
    runs, now reading compressed audio instead of PCM."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def dom(payload: bytes):
            d = flac_decode(bytes(payload))
            x = d["samples"].astype(np.float64).mean(axis=1)
            if len(x) < 4:
                raise ValueError("too few samples for a spectrum")
            mag = np.abs(np.fft.rfft(x))
            return len(x), int(mag[1:].argmax()) + 1

        for pdf in it:
            d = pdf["payload"].map(dom)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": d.map(lambda t: t[0]).astype("int64"),
                    "dom_bin": d.map(lambda t: t[1]).astype("int32"),
                }
            )

    return media.mapInPandas(batches, FREQ_SCHEMA)


COVER_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("mime", StringType()),
        StructField("pic_width", IntegerType()),
        StructField("pic_height", IntegerType()),
        StructField("payload", BinaryType()),
    ]
)


def flac_cover_art(media: DataFrame) -> DataFrame:
    """Extract the FIRST embedded PICTURE from each FLAC payload as a
    new binary column — the cross-modal hop: downstream the extracted
    image is a first-class media payload for the IMAGE kernels
    (``attach_media`` + ``bmp_pixel_stats`` etc.), so one file's
    audio and art flow through their own typed decoders. Rows without
    a PICTURE block are dropped (the pipeline filter shape). Frames
    are never decoded here — this is a metadata-walk extraction."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "media_id": [],
                "mime": [],
                "pic_width": [],
                "pic_height": [],
                "payload": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                pics = flac_meta(bytes(payload))["pictures"]
                if not pics:
                    continue
                pic = pics[0]
                out["media_id"].append(mid)
                out["mime"].append(pic["mime"])
                out["pic_width"].append(pic["width"])
                out["pic_height"].append(pic["height"])
                out["payload"].append(pic["data"])
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(out["media_id"], dtype="int64"),
                    "mime": pd.Series(out["mime"], dtype="object"),
                    "pic_width": pd.Series(
                        out["pic_width"], dtype="int32"
                    ),
                    "pic_height": pd.Series(
                        out["pic_height"], dtype="int32"
                    ),
                    "payload": pd.Series(out["payload"], dtype="object"),
                }
            )

    return media.mapInPandas(batches, COVER_SCHEMA)


QUALITY_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_samples", LongType()),
        StructField("clip_n", LongType()),
        StructField("quiet_n", LongType()),
        StructField("peak", LongType()),
        StructField("keep", IntegerType()),
    ]
)


def flac_quality_stats(
    media: DataFrame,
    clip_level: int = 32700,
    quiet_level: int = 64,
    max_clip_frac: float = 0.01,
    max_quiet_frac: float = 0.5,
) -> DataFrame:
    """Audio-corpus quality screen over DECODED FLAC samples — the
    audio analogue of the Gopher-style text flags: per stream, the
    clipped-sample count (|x| >= clip_level: limiter/distortion
    artifacts), the near-silence count (|x| < quiet_level), the peak,
    and a keep flag (clip fraction <= max_clip_frac AND quiet
    fraction <= max_quiet_frac). Thresholds are plan literals so the
    filter is reproducible across engines; counts are exact integers.
    Same Arrow ``mapInPandas`` shape as :func:`flac_sample_stats`."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def q(payload: bytes):
            d = flac_decode(bytes(payload))
            x = d["samples"].reshape(-1)
            ax = np.abs(x)
            n = len(x)
            clip = int((ax >= clip_level).sum())
            quiet = int((ax < quiet_level).sum())
            keep = int(
                clip <= max_clip_frac * n and quiet <= max_quiet_frac * n
            )
            return n, clip, quiet, int(ax.max()) if n else 0, keep

        for pdf in it:
            d = pdf["payload"].map(q)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "n_samples": d.map(lambda t: t[0]).astype("int64"),
                    "clip_n": d.map(lambda t: t[1]).astype("int64"),
                    "quiet_n": d.map(lambda t: t[2]).astype("int64"),
                    "peak": d.map(lambda t: t[3]).astype("int64"),
                    "keep": d.map(lambda t: t[4]).astype("int32"),
                }
            )

    return media.mapInPandas(batches, QUALITY_SCHEMA)


FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("window_idx", LongType()),
        StructField("fp", StringType()),
        StructField("pcm_md5", StringType()),
    ]
)


def flac_window_fingerprint(
    media: DataFrame, window: int = 512, cells: int = 64
) -> DataFrame:
    """Perceptual fingerprint over DECODED FLAC audio — the audio twin
    of ``h264.mp4_frame_ahash`` (r12): channel 0's PCM is cut into
    non-overlapping ``window``-sample windows (a short tail is
    dropped), each split into ``cells`` equal cells, and bit g of the
    fingerprint is 1 iff ``cells * cell_energy(g) > window_energy``
    (cell-above-mean energy, integer-exact with no float division so
    both engines derive the identical bit string). Emitted as a
    '0'/'1' string alongside the per-window PCM md5 (decimal CSV) so
    a downstream exact-verify stage can separate byte-dups from
    perceptual dups. Bucket-joining on ``fp`` is the scalable
    near-dup candidate shape — the shuffle carries fingerprints and
    digests, never PCM, the same economy as the MinHash band join in
    operators/dedup.py. Energies accumulate in Python ints (the
    flac_sample_stats overflow rule: int64 squares wrap past ~16-bit
    samples)."""
    if window % cells:
        raise ValueError(f"window {window} not divisible by cells {cells}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # the ONE shared rule (r14): bit- and digest-identical across
        # FLAC / WAV / PCM-in-MP4 by sharing the code, not a copy
        from pagerank_hadoop_spark.operators.multimodal import (
            _pcm_fingerprint_rows,
        )

        def fps(payload: bytes):
            d = flac_decode(bytes(payload))
            return _pcm_fingerprint_rows(
                d["samples"][:, 0].tolist(), window, cells
            )

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for wi, fp, md in fps(payload):
                    rows.append((int(mid), wi, fp, md))
            yield pd.DataFrame(
                rows, columns=["media_id", "window_idx", "fp", "pcm_md5"]
            )

    return media.mapInPandas(batches, FP_SCHEMA)


PHASE_FP_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("phase", IntegerType()),
        StructField("window_idx", IntegerType()),
        StructField("fp", StringType()),
        StructField("pcm_md5", StringType()),
    ]
)


def flac_phase_fingerprints(
    media: DataFrame,
    window: int = 512,
    cells: int = 64,
    phase_step: int = 64,
) -> DataFrame:
    """PHASE-SWEPT window fingerprints for CONTAINMENT screening —
    the :func:`flac_window_fingerprint` bit rule evaluated at every
    start offset ``phase`` in range(0, window, phase_step), so a
    SHORT clip embedded mid-file in a longer recording lines up with
    the corpus's phase-0 windows at whichever phase cancels the
    embed offset (corpus window ≡ clip window iff
    (offset + phase) % window == 0). This is the side of the
    asymmetry that makes the screen scale: the BENCHMARK clips — the
    small side — pay the window/phase_step-fold sweep and broadcast;
    the corpus is fingerprinted ONCE at phase 0 and never shuffles
    PCM (the exact_substring_scrub ownership posture applied to
    audio windows). ``phase_step`` is the recall/cost knob: the
    screen catches embeds whose offset is a multiple of
    gcd(phase_step, window); full recall = phase_step 1 at
    window-fold clip-side cost, corpus cost unchanged. Bit rule,
    integer arithmetic, and md5-CSV digest are IDENTICAL to the
    phase-0 kernel (phase 0 here is bit-for-bit
    flac_window_fingerprint), so the two sides join on equality."""
    if window % cells:
        raise ValueError(f"window {window} not divisible by cells {cells}")
    if not 1 <= phase_step <= window:
        raise ValueError(f"phase_step {phase_step} out of 1..{window}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # each phase is the shared rule applied to the phase-shifted
        # stream (phase 0 is bit-for-bit flac_window_fingerprint)
        from pagerank_hadoop_spark.operators.multimodal import (
            _pcm_fingerprint_rows,
        )

        def fps(payload: bytes):
            d = flac_decode(bytes(payload))
            x = d["samples"][:, 0].tolist()
            out = []
            for phase in range(0, window, phase_step):
                for wi, fp, md in _pcm_fingerprint_rows(
                    x[phase:], window, cells
                ):
                    out.append((phase, wi, fp, md))
            return out

        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for phase, wi, fp, md in fps(payload):
                    rows.append((int(mid), phase, wi, fp, md))
            yield pd.DataFrame(
                rows,
                columns=["media_id", "phase", "window_idx", "fp", "pcm_md5"],
            )

    return media.mapInPandas(batches, PHASE_FP_SCHEMA)


def flac_decode_frame_at(payload: bytes, point_idx: int) -> dict:
    """RANDOM-ACCESS decode: reconstruct exactly ONE frame via the
    SEEKTABLE, without touching any other frame's bytes — the media
    analogue of predicate pushdown (sampling a window from an
    hours-long file costs one frame's decode, not the file's). Walks
    the metadata blocks, takes seekpoint ``point_idx``, positions at
    first-frame-byte + offset, and runs the single-frame primitive
    (:func:`_decode_frame_at`: header CRC-8, subframes, decorrelation,
    frame CRC-16 — all per-frame checks still apply; only the
    stream-level STREAMINFO-MD5 is necessarily skipped, since it is
    defined over the whole stream). Verifies the frame header's coded
    frame number against the seekpoint's sample number (fixed
    blocksize: sample = frame_index * nominal_block_size), so a
    stale or corrupt table fails loudly instead of returning the
    wrong window. Returns ``{"sample_number", "n", "samples"}``."""
    if len(payload) < 42 or payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC marker)")
    pos = 4
    streaminfo = None
    points: list[tuple[int, int, int]] = []
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated metadata block header")
        last = payload[pos] >> 7
        btype = payload[pos] & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        if pos + 4 + blen > len(payload):
            raise ValueError("truncated metadata block")
        if btype == 0:
            streaminfo = payload[pos + 4 : pos + 38]
        elif btype == 3:
            if blen % 18:
                raise ValueError("SEEKTABLE length not a multiple of 18")
            for i in range(blen // 18):
                o = pos + 4 + 18 * i
                points.append(
                    (
                        int.from_bytes(payload[o : o + 8], "big"),
                        int.from_bytes(payload[o + 8 : o + 16], "big"),
                        int.from_bytes(payload[o + 16 : o + 18], "big"),
                    )
                )
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("missing mandatory STREAMINFO block")
    if not points:
        raise ValueError("stream has no SEEKTABLE to seek with")
    if not 0 <= point_idx < len(points):
        raise ValueError(
            f"seekpoint {point_idx} out of range 0..{len(points) - 1}"
        )
    r = _BitReader(streaminfo)
    r.u(16)  # min block size
    nominal_bs = r.u(16)  # max block size (fixed-blocksize nominal)
    r.u(48)  # min/max frame size
    r.u(20)  # sample rate
    channels = r.u(3) + 1
    bps = r.u(5) + 1
    sample_number, offset, n_in_frame = points[point_idx]
    if sample_number == 0xFFFFFFFFFFFFFFFF:
        raise ValueError("placeholder seekpoint cannot be seeked to")
    frame, coded_number, blocking, _next = _decode_frame_at(
        payload, pos + offset, channels, bps
    )
    # strategy 1 (variable blocksize) codes the first SAMPLE number
    # directly; strategy 0 codes the FRAME number, so the sample
    # number is frame_index x the nominal (STREAMINFO max) blocksize
    first_sample = (
        coded_number if blocking else coded_number * nominal_bs
    )
    if first_sample != sample_number:
        raise ValueError(
            f"seekpoint sample {sample_number} does not match the "
            f"frame's first sample {first_sample} (coded number "
            f"{coded_number}, blocking strategy {blocking})"
        )
    if n_in_frame and frame.shape[0] != n_in_frame:
        raise ValueError(
            f"seekpoint says {n_in_frame} samples, frame has "
            f"{frame.shape[0]}"
        )
    return {
        "sample_number": sample_number,
        "n": frame.shape[0],
        "samples": frame,
    }


SEEK_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("point_idx", IntegerType()),
        StructField("sample_number", LongType()),
        StructField("n", IntegerType()),
        StructField("energy", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def flac_seek_stats(media: DataFrame) -> DataFrame:
    """Per-payload random-access decode stats: seekpoint
    ``media_id % n_points`` is decoded ALONE (one frame's bytes, not
    the stream's) and pinned — interleaved decimal-CSV md5 plus
    exact-integer energy (Python-int accumulation per the r12
    overflow rule). Arrow-batched ``mapInPandas``; the shuffle
    carries six fixed-width columns, never samples."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def seek(mid: int, payload: bytes):
            meta = flac_meta(bytes(payload))
            idx = int(mid) % max(meta.get("seek_points", 0), 1)
            d = flac_decode_frame_at(bytes(payload), idx)
            vals = d["samples"].reshape(-1).tolist()
            return (
                idx,
                d["sample_number"],
                d["n"],
                sum(v * v for v in vals),
                hashlib.md5(
                    ",".join(str(v) for v in vals).encode()
                ).hexdigest(),
            )

        for pdf in it:
            rows = [
                (int(m),) + seek(m, p)
                for m, p in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "point_idx",
                    "sample_number",
                    "n",
                    "energy",
                    "frame_md5",
                ],
            )

    return media.mapInPandas(batches, SEEK_SCHEMA)


SEEK_QA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("n_probed", LongType()),
        StructField("clip_n", LongType()),
        StructField("quiet_n", LongType()),
        StructField("peak", LongType()),
        StructField("keep", IntegerType()),
    ]
)


def flac_seek_quality_stats(
    media: DataFrame,
    n_probes: int = 2,
    clip_level: int = 32700,
    quiet_level: int = 64,
    max_clip_frac: float = 0.01,
    max_quiet_frac: float = 0.5,
) -> DataFrame:
    """SAMPLED audio quality screen — the composition that makes
    random access pay at corpus scale: instead of decoding the whole
    file, probe ``n_probes`` SEEKTABLE frames (probe j = point
    ``(media_id + j * (n_points // n_probes)) % n_points``, a
    deterministic engine-replayable spread) via
    :func:`flac_decode_frame_at` and run the clip/near-silence screen
    of :func:`flac_quality_stats` over the probed windows only.
    Cost per file: O(probes x frame), independent of duration —
    the spot-check a 100 TB ingest runs before committing to a full
    decode. Flags are exact integers over the probed sample set."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def q(mid: int, payload: bytes):
            pl = bytes(payload)
            n_points = flac_meta(pl).get("seek_points", 0)
            if n_points < 1:
                raise ValueError("sampled QA needs a SEEKTABLE")
            stride = max(1, n_points // n_probes)
            idxs = sorted({(int(mid) + j * stride) % n_points
                           for j in range(n_probes)})
            vals: list[int] = []
            for idx in idxs:
                frame = flac_decode_frame_at(pl, idx)["samples"]
                vals.extend(frame.reshape(-1).tolist())
            n = len(vals)
            clip = sum(1 for v in vals if abs(v) >= clip_level)
            quiet = sum(1 for v in vals if abs(v) < quiet_level)
            keep = int(
                clip <= max_clip_frac * n and quiet <= max_quiet_frac * n
            )
            peak = max((abs(v) for v in vals), default=0)
            return n, clip, quiet, peak, keep

        for pdf in it:
            rows = [
                (int(m),) + q(m, p)
                for m, p in zip(pdf["media_id"], pdf["payload"])
            ]
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "n_probed",
                    "clip_n",
                    "quiet_n",
                    "peak",
                    "keep",
                ],
            )

    return media.mapInPandas(batches, SEEK_QA_SCHEMA)
