"""CRC-32C (Castagnoli) and the snappy/RocksDB masking.

Both the snappy framing format and RocksDB block trailers checksum with
CRC-32C and then apply the same rotation mask (framing_format.txt §3;
rocksdb util/crc32c.h Mask/Unmask).

One blocked numpy kernel checksums single messages and batches alike.
Only a kernel pass of fewer than ``_KERNEL_MIN`` bytes (one short
message, or a batch that small) and a message under 4 bytes take the
table-driven byte loop, which the tests' reference
(tests/codec_oracles/crc32c.py) also runs. The CRC register update is
linear over GF(2), so the kernel:

- right-aligns each message into ``_L``-byte blocks (leading zero bytes
  leave a zero register unchanged) and folds the initial register in by
  XOR-ing it into the message's first 4 bytes;
- computes each block's partial CRC as the XOR of ``TL[t][byte_t]``,
  where ``TL[t][v]`` is the register after ``v`` followed by
  ``_L - 1 - t`` zero bytes;
- shifts each partial past the blocks that follow it in its message with
  the "append ``_L * 2**s`` zero bytes" operators (four 256-entry byte
  tables each, built by squaring) and XORs them together.

Measured single-core on a 4-core x86 Xeon (spread over repeated runs):
one 48 KiB message ~100-150 MB/s, a batch of 1024 4 KiB blocks ~175-260
MB/s, a TFRecord shard's batch (1000 lognormal 0.1-8 KiB records, median
~0.7 KiB, plus their 8-byte length words) ~90-120 MB/s; the byte loop
runs at ~5-7 MB/s at every size.
"""

from __future__ import annotations

import functools

import numpy as np

_POLY = 0x82F63B78  # reflected Castagnoli polynomial

_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _POLY if _c & 1 else _c >> 1
    _TABLE.append(_c)

# kernel passes shorter than this take the byte loop instead: below it
# the pass's fixed cost (~50 us of numpy calls) is more than the loop's
# per-byte cost (the two cross between 256 and 512 bytes)
_KERNEL_MIN = 512
_L = 256  # bytes per kernel block; TL is _L x 256 uint32 (256 KiB)
# input bytes per kernel pass: its temporaries peak near 7x this
# (index + gathered table words); 1 MiB passes are no faster
_SLAB = 1 << 19


def _byte_loop(data, c: int) -> int:
    for b in data:
        c = _TABLE[(c ^ b) & 0xFF] ^ (c >> 8)
    return c


def crc32c(data: bytes, crc: int = 0) -> int:
    """CRC-32C of ``data``, continuing from ``crc``."""
    c = crc ^ 0xFFFFFFFF
    n = len(data)
    if n < _KERNEL_MIN:
        return _byte_loop(data, c) ^ 0xFFFFFFFF
    # one message longer than a slab is cut into near-equal pieces (each
    # far above 4 bytes), each starting from the register the last left
    step = -(-n // -(-n // _SLAB))
    view = memoryview(data)
    for pos in range(0, n, step):
        c = int(_registers([view[pos : pos + step]], c)[0])
    return c ^ 0xFFFFFFFF


def crc32c_batch(blobs: list[bytes]) -> list[int]:
    """CRC-32C of many byte strings, in input order. Once the batch holds
    ``_KERNEL_MIN`` bytes, every message of 4 bytes or more goes through
    the kernel, in passes of about ``_SLAB`` block-padded bytes: the
    kernel's fixed cost is paid once per pass, not once per message."""
    if sum(map(len, blobs)) < _KERNEL_MIN:
        return [crc32c(b) for b in blobs]
    out = [0] * len(blobs)
    slab: list[int] = []
    size = 0

    def flush() -> None:
        regs = _registers([blobs[i] for i in slab], 0xFFFFFFFF)
        for i, r in zip(slab, regs.tolist()):
            out[i] = r ^ 0xFFFFFFFF
        slab.clear()

    for i, b in enumerate(blobs):
        if len(b) < 4 or len(b) > _SLAB:  # byte loop / a pass of its own
            out[i] = crc32c(b)
            continue
        slab.append(i)
        size += -(-len(b) // _L) * _L
        if size >= _SLAB:
            flush()
            size = 0
    if slab:
        flush()
    return out


_TABLE_NP = np.array(_TABLE, dtype=np.uint32)
# TL indices ``t * 256 + byte`` stay below 2**16 for _L <= 256, and a
# uint16 index array is a quarter of the intp one numpy would otherwise take
_TL_OFFSETS = np.arange(_L, dtype=np.uint16) * np.uint16(256)
_BYTE_OFFSETS = np.arange(4, dtype=np.intp) * 256


def _append_zero_bytes(c: np.ndarray, n: int) -> np.ndarray:
    """Registers ``c`` after ``n`` zero message bytes, byte at a time."""
    for _ in range(n):
        c = _TABLE_NP[c & 0xFF] ^ (c >> np.uint32(8))
    return c


def _shift(tables: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Apply a linear register operator given as four byte tables (flat
    4 x 256) to every register in ``c``."""
    parts = c.astype("<u4").view(np.uint8).reshape(-1, 4)
    return np.bitwise_xor.reduce(tables[parts + _BYTE_OFFSETS], axis=1)


@functools.cache
def _tables() -> tuple[np.ndarray, list[np.ndarray]]:
    """TL (flat ``_L`` x 256) and the shift tables, level ``s`` appending
    ``_L * 2**s`` zero bytes; built once per process, on first use."""
    tl = np.empty((_L, 256), dtype=np.uint32)
    tl[_L - 1] = _TABLE_NP
    for t in range(_L - 1, 0, -1):
        tl[t - 1] = _append_zero_bytes(tl[t], 1)
    byte = np.arange(256, dtype=np.uint32)
    unit = np.concatenate([byte << np.uint32(8 * i) for i in range(4)])
    shifts = [_append_zero_bytes(unit, _L)]
    while (_L << len(shifts)) < _SLAB:  # kernel messages are <= _SLAB bytes
        shifts.append(_shift(shifts[-1], shifts[-1]))  # squaring
    return tl.ravel(), shifts


def _registers(msgs: list, init: int) -> np.ndarray:
    """Raw CRC registers (no final XOR) of ``msgs``, each 4 to ``_SLAB``
    bytes long, every one starting from register ``init``."""
    tl, shifts = _tables()
    lens = np.fromiter(map(len, msgs), np.int64, len(msgs))
    nblk = -(-lens // _L)
    pads = (nblk * _L - lens).tolist()
    zero = bytes(_L)
    buf = np.frombuffer(
        bytearray().join(p for m, pad in zip(msgs, pads) for p in (zero[:pad], m)),
        dtype=np.uint8,
    )
    first = np.cumsum(nblk * _L) - lens  # each message's first byte
    buf[first[:, None] + np.arange(4)] ^= np.frombuffer(
        init.to_bytes(4, "little"), dtype=np.uint8
    )
    idx = buf.reshape(-1, _L).astype(np.uint16)
    idx |= _TL_OFFSETS
    part = np.bitwise_xor.reduce(tl[idx], axis=1)
    # blocks still to follow in the same message, per block
    end = np.cumsum(nblk)
    dist = np.repeat(end, nblk) - 1 - np.arange(len(part))
    for tables in shifts[: int(dist.max()).bit_length()]:
        sel = np.flatnonzero(dist & 1)
        part[sel] = _shift(tables, part[sel])
        dist >>= 1
    return np.bitwise_xor.reduceat(part, end - nblk)


MASK_DELTA = 0xA282EAD8


def mask(crc: int) -> int:
    """Rotate right 15 bits and add a constant (both snappy framing and
    RocksDB store masked CRCs so checksums of checksums stay well-behaved)."""
    return (((crc >> 15) | (crc << 17)) + MASK_DELTA) & 0xFFFFFFFF


def unmask(masked: int) -> int:
    rot = (masked - MASK_DELTA) & 0xFFFFFFFF
    return ((rot >> 17) | (rot << 15)) & 0xFFFFFFFF
