"""Pure-Python xxHash family: XXH32, XXH64, XXH3-64.

RocksDB block checksums (table/format.cc ``ComputeBuiltinChecksumWithLastByte``)
support kCRC32c=1, kxxHash=2 (XXH32), kxxHash64=3 (low 32 bits of XXH64) and
kXXH3=4 (low 32 bits of XXH3-64, modern default). The reference never touches
these — it opens checkpoints with an embedded RocksDB which verifies
internally (bravo's ``RocksDBCheckpointIterator.java:150-216``); we parse SST
files directly (sources/sst.py), so checksum verification needs the hashes
themselves. Implemented from the public xxHash specification
(github.com/Cyan4973/xxHash, doc/xxhash_spec.md); XXH32/XXH64 are
cross-validated against lz4-java's XXHashFactory in-JVM and XXH3 against
rocksdbjni-written SST files (tests/test_rocksdb_native.py).

Pure Python is fine: these run when ``verify_checksums=True`` on SST
reads (a diagnostic path) and, for XXH32, over each 32 KiB block of an
lz4-java state-file stream (codecs/lz4.py) — not the engine's hot path.
"""

from __future__ import annotations

import struct

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF

_P32_1 = 0x9E3779B1
_P32_2 = 0x85EBCA77
_P32_3 = 0xC2B2AE3D
_P32_4 = 0x27D4EB2F
_P32_5 = 0x165667B1

_P64_1 = 0x9E3779B185EBCA87
_P64_2 = 0xC2B2AE3D27D4EB4F
_P64_3 = 0x165667B19E3779F9
_P64_4 = 0x85EBCA77C2B2AE63
_P64_5 = 0x27D4EB2F165667C5

_PRIME_MX1 = 0x165667919E3779F9
_PRIME_MX2 = 0x9FB21C651E98DF25

# XXH3 default secret (xxhash.h kSecret, 192 bytes)
_KSECRET = bytes.fromhex(
    "b8fe6c3923a44bbe7c01812cf721ad1cded46de9839097db7240a4a4b7b3671f"
    "cb79e64eccc0e578825ad07dccff7221b8084674f743248ee03590e6813a264c"
    "3c2852bb91c300cb88d0658b1b532ea371644897a20df94e3819ef46a9deacd8"
    "a8fa763fe39c343ff9dcbbc7c70b4f1d8a51e04bcdb45931c89f7ec9d9787364"
    "eac5ac8334d3ebc3c581a0fffa1363eb170ddd51b7f0da49d3165526"
    "29d4689e2b16be587d47a1fc8ff8b8d17ad031ce45cb3a8f951604"
    "28afd7fbcabb4b407e"
)
assert len(_KSECRET) == 192


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def xxh32(data: bytes, seed: int = 0) -> int:
    n = len(data)
    idx = 0
    if n >= 16:
        v1 = (seed + _P32_1 + _P32_2) & _M32
        v2 = (seed + _P32_2) & _M32
        v3 = seed & _M32
        v4 = (seed - _P32_1) & _M32
        while idx <= n - 16:
            lanes = struct.unpack_from("<IIII", data, idx)
            v1 = (_rotl32((v1 + lanes[0] * _P32_2) & _M32, 13) * _P32_1) & _M32
            v2 = (_rotl32((v2 + lanes[1] * _P32_2) & _M32, 13) * _P32_1) & _M32
            v3 = (_rotl32((v3 + lanes[2] * _P32_2) & _M32, 13) * _P32_1) & _M32
            v4 = (_rotl32((v4 + lanes[3] * _P32_2) & _M32, 13) * _P32_1) & _M32
            idx += 16
        h = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12) + _rotl32(v4, 18)
        ) & _M32
    else:
        h = (seed + _P32_5) & _M32
    h = (h + n) & _M32
    while idx <= n - 4:
        (k,) = struct.unpack_from("<I", data, idx)
        h = (_rotl32((h + k * _P32_3) & _M32, 17) * _P32_4) & _M32
        idx += 4
    while idx < n:
        h = (_rotl32((h + data[idx] * _P32_5) & _M32, 11) * _P32_1) & _M32
        idx += 1
    h ^= h >> 15
    h = (h * _P32_2) & _M32
    h ^= h >> 13
    h = (h * _P32_3) & _M32
    h ^= h >> 16
    return h


def xxh64(data: bytes, seed: int = 0) -> int:
    n = len(data)
    idx = 0

    def round64(acc: int, lane: int) -> int:
        return (_rotl64((acc + lane * _P64_2) & _M64, 31) * _P64_1) & _M64

    if n >= 32:
        v1 = (seed + _P64_1 + _P64_2) & _M64
        v2 = (seed + _P64_2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P64_1) & _M64
        while idx <= n - 32:
            lanes = struct.unpack_from("<QQQQ", data, idx)
            v1 = round64(v1, lanes[0])
            v2 = round64(v2, lanes[1])
            v3 = round64(v3, lanes[2])
            v4 = round64(v4, lanes[3])
            idx += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ round64(0, v)) * _P64_1 + _P64_4) & _M64
    else:
        h = (seed + _P64_5) & _M64
    h = (h + n) & _M64
    while idx <= n - 8:
        (k,) = struct.unpack_from("<Q", data, idx)
        h = ((_rotl64(h ^ round64(0, k), 27) * _P64_1) + _P64_4) & _M64
        idx += 8
    if idx <= n - 4:
        (k,) = struct.unpack_from("<I", data, idx)
        h = ((_rotl64(h ^ (k * _P64_1) & _M64, 23) * _P64_2) + _P64_3) & _M64
        idx += 4
    while idx < n:
        h = (_rotl64(h ^ (data[idx] * _P64_5) & _M64, 11) * _P64_1) & _M64
        idx += 1
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


# ---------------------------------------------------------------------------
# XXH3 (64-bit, seed 0 / default secret — all RocksDB uses)


def _xxh64_avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * _P64_2) & _M64
    h ^= h >> 29
    h = (h * _P64_3) & _M64
    h ^= h >> 32
    return h


def _xxh3_avalanche(h: int) -> int:
    h ^= h >> 37
    h = (h * _PRIME_MX1) & _M64
    h ^= h >> 32
    return h


def _mul128_fold64(a: int, b: int) -> int:
    p = a * b
    return (p & _M64) ^ (p >> 64)


def _r64(buf: bytes, off: int) -> int:
    return struct.unpack_from("<Q", buf, off)[0]


def _r32(buf: bytes, off: int) -> int:
    return struct.unpack_from("<I", buf, off)[0]


def _mix16(data: bytes, doff: int, secret: bytes, soff: int) -> int:
    return _mul128_fold64(
        _r64(data, doff) ^ _r64(secret, soff),
        _r64(data, doff + 8) ^ _r64(secret, soff + 8),
    )


def _xxh3_0to16(data: bytes, secret: bytes) -> int:
    n = len(data)
    if n > 8:
        bitflip1 = _r64(secret, 24) ^ _r64(secret, 32)
        bitflip2 = _r64(secret, 40) ^ _r64(secret, 48)
        lo = _r64(data, 0) ^ bitflip1
        hi = _r64(data, n - 8) ^ bitflip2
        acc = (
            n
            + int.from_bytes(lo.to_bytes(8, "little"), "big")  # byteswap64
            + hi
            + _mul128_fold64(lo, hi)
        ) & _M64
        return _xxh3_avalanche(acc)
    if n >= 4:
        i1 = _r32(data, 0)
        i2 = _r32(data, n - 4)
        bitflip = _r64(secret, 8) ^ _r64(secret, 16)
        keyed = (i2 + (i1 << 32)) ^ bitflip
        # rrmxmx
        h = keyed ^ (_rotl64(keyed, 49) ^ _rotl64(keyed, 24))
        h = (h * _PRIME_MX2) & _M64
        h ^= ((h >> 35) + n) & _M64
        h = (h * _PRIME_MX2) & _M64
        return h ^ (h >> 28)
    if n >= 1:
        c1, c2, c3 = data[0], data[n >> 1], data[n - 1]
        combined = (c1 << 16) | (c2 << 24) | c3 | (n << 8)
        bitflip = _r32(secret, 0) ^ _r32(secret, 4)
        return _xxh64_avalanche(combined ^ bitflip)
    return _xxh64_avalanche(_r64(secret, 56) ^ _r64(secret, 64))


def _xxh3_17to128(data: bytes, secret: bytes) -> int:
    n = len(data)
    acc = (n * _P64_1) & _M64
    if n > 32:
        if n > 64:
            if n > 96:
                acc = (acc + _mix16(data, 48, secret, 96)) & _M64
                acc = (acc + _mix16(data, n - 64, secret, 112)) & _M64
            acc = (acc + _mix16(data, 32, secret, 64)) & _M64
            acc = (acc + _mix16(data, n - 48, secret, 80)) & _M64
        acc = (acc + _mix16(data, 16, secret, 32)) & _M64
        acc = (acc + _mix16(data, n - 32, secret, 48)) & _M64
    acc = (acc + _mix16(data, 0, secret, 0)) & _M64
    acc = (acc + _mix16(data, n - 16, secret, 16)) & _M64
    return _xxh3_avalanche(acc)


def _xxh3_129to240(data: bytes, secret: bytes) -> int:
    n = len(data)
    acc = (n * _P64_1) & _M64
    for i in range(8):
        acc = (acc + _mix16(data, 16 * i, secret, 16 * i)) & _M64
    acc = _xxh3_avalanche(acc)
    for i in range(8, n // 16):
        acc = (acc + _mix16(data, 16 * i, secret, 16 * (i - 8) + 3)) & _M64
    acc = (acc + _mix16(data, n - 16, secret, 136 - 17)) & _M64
    return _xxh3_avalanche(acc)


def _accumulate_512(acc: list[int], data: bytes, doff: int, secret: bytes,
                    soff: int) -> None:
    for i in range(8):
        dv = _r64(data, doff + 8 * i)
        dk = dv ^ _r64(secret, soff + 8 * i)
        acc[i ^ 1] = (acc[i ^ 1] + dv) & _M64
        acc[i] = (acc[i] + (dk & _M32) * (dk >> 32)) & _M64


def _xxh3_long(data: bytes, secret: bytes) -> int:
    n = len(data)
    acc = [_P32_3, _P64_1, _P64_2, _P64_3, _P64_4, _P32_2, _P64_5, _P32_1]
    stripes_per_block = (len(secret) - 64) // 8  # 16 for the default secret
    block_len = 64 * stripes_per_block
    nb_blocks = (n - 1) // block_len
    for b in range(nb_blocks):
        for s in range(stripes_per_block):
            _accumulate_512(acc, data, b * block_len + 64 * s, secret, 8 * s)
        # scramble
        for i in range(8):
            a = acc[i] ^ (acc[i] >> 47)
            a ^= _r64(secret, len(secret) - 64 + 8 * i)
            acc[i] = (a * _P32_1) & _M64
    nb_stripes = ((n - 1) - block_len * nb_blocks) // 64
    base = nb_blocks * block_len
    for s in range(nb_stripes):
        _accumulate_512(acc, data, base + 64 * s, secret, 8 * s)
    # last (possibly overlapping) stripe, secret offset secretSize-64-7
    _accumulate_512(acc, data, n - 64, secret, len(secret) - 64 - 7)
    # merge
    result = (n * _P64_1) & _M64
    for i in range(4):
        result = (
            result
            + _mul128_fold64(
                acc[2 * i] ^ _r64(secret, 11 + 16 * i),
                acc[2 * i + 1] ^ _r64(secret, 11 + 16 * i + 8),
            )
        ) & _M64
    return _xxh3_avalanche(result)


def xxh3_64(data: bytes) -> int:
    """XXH3 64-bit one-shot, seed 0, default secret (the only form RocksDB
    block checksums use)."""
    n = len(data)
    if n <= 16:
        return _xxh3_0to16(data, _KSECRET)
    if n <= 128:
        return _xxh3_17to128(data, _KSECRET)
    if n <= 240:
        return _xxh3_129to240(data, _KSECRET)
    return _xxh3_long(data, _KSECRET)
