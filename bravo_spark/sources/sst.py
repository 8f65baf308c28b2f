"""Pure-Python RocksDB SST (BlockBasedTable) reader and writer.

The reference reads incremental checkpoints by opening the transferred
RocksDB instance with the native library and iterating each state's column
family (reader/inputformat/RocksDBCheckpointIterator.java:57-254). No
native RocksDB binding ships in this environment, so this module parses the
on-disk BlockBasedTable format directly — footer → metaindex → properties /
index block → data blocks → restart-point key decode — following the
PUBLIC format documentation (rocksdb/table/block_based/*, leveldb
table_format.md).

What the reader yields per SST entry:

    (user_key: bytes, seq: int, vtype: int, value: bytes)

where ``user_key`` is Flink's key bytes (key-group prefix + key + namespace
— exactly the ``key_ns`` of our state rows), and (seq, vtype) come from the
8-byte internal-key trailer (seq << 8 | type, little-endian). LSM merge
semantics across SSTs (shadowing by sequence number, tombstones, merge
operands) are applied DISTRIBUTIVELY in sources/checkpoint.py, not here.

The writer produces structurally faithful tables (restart intervals,
properties/metaindex/index blocks, real block-trailer CRC32Cs, block
compression via codecs/fastpath.py, correct footer magic): golden-vector
tests parse hand-built files, and the checkpoint_roundtrip query reads
multi-SST fixtures with shadowing/tombstones/merges. Both directions are
cross-validated against REAL RocksDB (rocksdbjni ships inside Spark):
tests/test_rocksdb_native.py reads native-written files byte-exactly and
has native RocksDB verify + iterate our writer's output.

Value types (rocksdb/db/dbformat.h): 0 deletion, 1 value, 2 merge,
7 single-deletion.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Iterator

from bravo_spark.codecs import crc32c
from bravo_spark.codecs import fastpath
from bravo_spark.codecs import xxh

# rocksdb/table/format.cc
BLOCK_BASED_MAGIC = 0x88E241B785F4CFF7
LEGACY_BLOCK_BASED_MAGIC = 0xDB4775248B80FB57

# block trailer compression byte (rocksdb/include/rocksdb/options.h)
NO_COMPRESSION = 0
SNAPPY_COMPRESSION = 1
ZLIB_COMPRESSION = 2
BZIP2_COMPRESSION = 3
LZ4_COMPRESSION = 4
LZ4HC_COMPRESSION = 5  # same block format as LZ4; HC is an encoder choice
ZSTD_COMPRESSION = 7  # varint32 decompressed size + zstd frame (always —
# kZSTD postdates compress_format_version 2, util/compression.h)
# xpress (Windows-only) has no codec anywhere in this environment —
# read_block raises naming the algorithm so the gap is explicit, not a
# corrupt-file error
_UNSUPPORTED_COMPRESSION = {6: "xpress"}

# rocksdb/include/rocksdb/table.h BlockBasedTableOptions::IndexType
INDEX_BINARY_SEARCH = 0
INDEX_HASH_SEARCH = 1
INDEX_TWO_LEVEL = 2

# internal-key value types
TYPE_DELETION = 0
TYPE_VALUE = 1
TYPE_MERGE = 2
TYPE_SINGLE_DELETION = 7

PROP_BLOCK_KEY = b"rocksdb.properties"
PROP_CF_NAME = b"rocksdb.column.family.name"
PROP_CF_ID = b"rocksdb.column.family.id"
PROP_MERGE_OPERATOR = b"rocksdb.merge.operator"
PROP_INDEX_TYPE = b"rocksdb.block.based.table.index.type"

_FOOTER_NEW = 53  # 1B checksum + 2 handles (≤40B) + 4B version + 8B magic
_FOOTER_LEGACY = 48
# format_version >= 6 replaces the two handles with: extended magic (4B),
# footer checksum (4B), base context checksum (4B), metaindex SIZE (4B,
# uint32 LE — the metaindex is always the last block before the footer, so
# its offset is implied), zero padding to 40B. The index handle moves into
# the metaindex under the key b"rocksdb.index".
_EXTENDED_MAGIC = b"\x3e\x00\x7a\x00"
_V6_INDEX_KEY = b"rocksdb.index"


def _sized_decompress(raw: bytes, decompress) -> bytes:
    """RocksDB compress_format_version 2 prepends the decompressed size as a
    varint32 before the codec stream (util/compression.h) for codecs that
    don't carry it natively (zlib, bzip2, lz4, zstd); format version 1 is the
    bare stream. Try the sized layout first and fall back, so both read."""
    try:
        size, pos = _read_uvarint(raw, 0)
        out = decompress(raw[pos:])
        if len(out) == size:
            return out
    except Exception:
        pass
    return decompress(raw)


def _read_uvarint(buf: bytes, pos: int) -> tuple[int, int]:
    result = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        result |= (b & 0x7F) << shift
        if not b & 0x80:
            return result, pos
        shift += 7
        if shift > 63:
            raise ValueError("uvarint too long")


def _write_uvarint(v: int) -> bytes:
    out = bytearray()
    while True:
        if v < 0x80:
            out.append(v)
            return bytes(out)
        out.append((v & 0x7F) | 0x80)
        v >>= 7


@dataclass(frozen=True)
class BlockHandle:
    offset: int
    size: int

    def encode(self) -> bytes:
        return _write_uvarint(self.offset) + _write_uvarint(self.size)

    @staticmethod
    def decode(buf: bytes, pos: int = 0) -> tuple["BlockHandle", int]:
        off, pos = _read_uvarint(buf, pos)
        size, pos = _read_uvarint(buf, pos)
        return BlockHandle(off, size), pos


def iter_block_entries(block: bytes) -> Iterator[tuple[bytes, bytes]]:
    """Decode a restart-point block into (key, value) pairs
    (rocksdb/table/block_based/block_builder.cc layout: per entry
    [shared][non_shared][value_len] varints, key delta, value; then
    uint32 restart offsets and a uint32 restart count)."""
    if len(block) < 4:
        raise ValueError("block too short")
    (num_restarts,) = struct.unpack("<I", block[-4:])
    if num_restarts & 0x80000000:
        raise ValueError(
            "packed restart count (data_block_hash_index / format_version>=4 "
            "index features) not supported"
        )
    restarts_off = len(block) - 4 - 4 * num_restarts
    if restarts_off < 0:
        raise ValueError("corrupt block: restart array overruns block")
    pos = 0
    key = b""
    # hot loop: varints are one byte for every realistic key/value under
    # 128 bytes, so decode that case inline (no function call, no loop) —
    # ~2x whole-file decode throughput (tools/bench_sst.py); the slow
    # path handles multi-byte lengths exactly as before
    read_uv = _read_uvarint
    while pos < restarts_off:
        shared = block[pos]
        if shared < 0x80:
            pos += 1
        else:
            shared, pos = read_uv(block, pos)
        non_shared = block[pos]
        if non_shared < 0x80:
            pos += 1
        else:
            non_shared, pos = read_uv(block, pos)
        value_len = block[pos]
        if value_len < 0x80:
            pos += 1
        else:
            value_len, pos = read_uv(block, pos)
        end = pos + non_shared
        key = key[:shared] + block[pos:end] if shared else block[pos:end]
        pos = end + value_len
        yield key, block[end:pos]


def iter_index_handles_delta(block: bytes) -> Iterator[BlockHandle]:
    """Decode an index block written with value-delta-encoding
    (format_version >= 4, ``rocksdb.index.value.is.delta.encoded`` = 1;
    block_builder.cc + block.h IndexBlockIter::DecodeCurrentValue):
    entries carry NO value-length varint; a restart entry (shared == 0)
    stores a full BlockHandle, later entries store only a zigzag varint of
    (size - prev_size) — the offset is implied as
    prev.offset + prev.size + 5-byte block trailer."""
    if len(block) < 4:
        raise ValueError("block too short")
    (num_restarts,) = struct.unpack("<I", block[-4:])
    if num_restarts & 0x80000000:
        raise ValueError("packed restart count not supported in index blocks")
    restarts_off = len(block) - 4 - 4 * num_restarts
    if restarts_off < 0:
        raise ValueError("corrupt index block: restart array overruns block")
    pos = 0
    prev: BlockHandle | None = None
    while pos < restarts_off:
        shared, pos = _read_uvarint(block, pos)
        non_shared, pos = _read_uvarint(block, pos)
        pos += non_shared  # separator key — not needed for a full scan
        if shared == 0:
            off, pos = _read_uvarint(block, pos)
            size, pos = _read_uvarint(block, pos)
            prev = BlockHandle(off, size)
        else:
            if prev is None:
                raise ValueError("corrupt index block: delta before restart")
            zz, pos = _read_uvarint(block, pos)
            delta = (zz >> 1) ^ -(zz & 1)  # zigzag-signed size delta
            prev = BlockHandle(prev.offset + prev.size + 5, prev.size + delta)
        yield prev


_U64_FROM = struct.Struct("<Q").unpack_from


def parse_internal_key(ikey: bytes) -> tuple[bytes, int, int]:
    """internal key = user_key + fixed64 LE (seq << 8 | type)."""
    if len(ikey) < 8:
        raise ValueError("internal key shorter than 8-byte trailer")
    (trailer,) = _U64_FROM(ikey, len(ikey) - 8)
    return ikey[:-8], trailer >> 8, trailer & 0xFF


_U64_PACK = struct.Struct("<Q").pack


def make_internal_key(user_key: bytes, seq: int, vtype: int) -> bytes:
    return user_key + _U64_PACK((seq << 8) | vtype)


class SstReader:
    """One BlockBasedTable file, read by ranged ``seek``/``read`` calls.
    Opening reads the footer, metaindex and properties block only, so the
    column family is known before any data block is touched; data blocks
    are read as :meth:`iter_entries` reaches them. The file stays open
    until :meth:`close` (or the end of a ``with`` block)."""

    def __init__(self, path: str, *, verify_checksums: bool = False):
        self.path = path
        self.verify_checksums = verify_checksums
        self._f = open(path, "rb")
        try:
            self.size = self._f.seek(0, 2)
            if self.size < _FOOTER_LEGACY:
                raise ValueError(f"{path}: too short to be an SST")
            self._parse_footer()
            self.properties = self._read_properties()
        except (struct.error, IndexError) as exc:
            self._f.close()
            raise ValueError(f"{path}: corrupt SST metadata ({exc})") from exc
        except BaseException:
            self._f.close()
            raise

    def close(self) -> None:
        self._f.close()

    def __enter__(self) -> "SstReader":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _read_at(self, offset: int, n: int) -> bytes:
        self._f.seek(offset)
        return self._f.read(n)

    # --- structure ---

    def _parse_footer(self) -> None:
        buf = self._read_at(max(0, self.size - _FOOTER_NEW), _FOOTER_NEW)
        (magic,) = struct.unpack("<Q", buf[-8:])
        if magic == BLOCK_BASED_MAGIC:
            (version,) = struct.unpack("<I", buf[-12:-8])
            if version == 0:
                raise ValueError(f"{self.path}: format_version 0 with new magic")
            footer = buf[-_FOOTER_NEW:]
            if len(footer) < _FOOTER_NEW:
                raise ValueError(f"{self.path}: too short to be an SST")
            self.checksum_type = footer[0]
            self.format_version = version
            if version >= 6:
                if footer[1:5] != _EXTENDED_MAGIC:
                    raise ValueError(
                        f"{self.path}: format_version {version} footer "
                        "missing extended magic"
                    )
                self.base_context_checksum = struct.unpack("<I", footer[9:13])[0]
                (meta_size,) = struct.unpack("<I", footer[13:17])
                meta_off = self.size - _FOOTER_NEW - 5 - meta_size
                if meta_off < 0:
                    raise ValueError(f"{self.path}: v6 metaindex out of range")
                self.metaindex_handle = BlockHandle(meta_off, meta_size)
                self.index_handle = None  # resolved from the metaindex
            else:
                self.base_context_checksum = 0
                pos = 1
                self.metaindex_handle, pos = BlockHandle.decode(footer, pos)
                self.index_handle, pos = BlockHandle.decode(footer, pos)
        elif magic == LEGACY_BLOCK_BASED_MAGIC:
            footer = buf[-_FOOTER_LEGACY:]
            self.checksum_type = 1  # legacy footers imply crc32c
            self.base_context_checksum = 0
            pos = 0
            self.metaindex_handle, pos = BlockHandle.decode(footer, pos)
            self.index_handle, pos = BlockHandle.decode(footer, pos)
            self.format_version = 0
        else:
            raise ValueError(f"{self.path}: not a block-based SST (bad magic)")

    def read_block(self, handle: BlockHandle) -> bytes:
        block = self._read_at(handle.offset, handle.size + 5)
        raw, trailer = block[: handle.size], block[handle.size :]
        if len(raw) != handle.size or len(trailer) != 5:
            raise ValueError(f"{self.path}: block handle out of range")
        compression = trailer[0]
        if self.verify_checksums and self.checksum_type != 0:
            (stored,) = struct.unpack("<I", trailer[1:5])
            if self.checksum_type == 1:  # kCRC32c
                actual = crc32c.mask(crc32c.crc32c(raw + trailer[:1]))
            elif self.checksum_type == 2:  # kxxHash
                actual = xxh.xxh32(raw + trailer[:1])
            elif self.checksum_type == 3:  # kxxHash64 (low 32 bits)
                actual = xxh.xxh64(raw + trailer[:1]) & 0xFFFFFFFF
            elif self.checksum_type == 4:  # kXXH3 (modern default)
                # RocksDB's ComputeBuiltinChecksum (table/format.cc) special-
                # cases kXXH3: the hash covers data[0..len-2] — everything
                # EXCEPT the last byte (here the compression-type trailer
                # byte) — and the last byte is folded in afterwards via
                # ModifyChecksumForLastByte (table/format.h):
                #   checksum ^ (uint8(last_byte) * kRandomPrime)
                # with kRandomPrime = 0x6b9083d9 (an odd multiplier that
                # spreads the byte across all 32 bits; XOR keeps the
                # modifier commutative with the fv6 context modifier below).
                # Cross-validated against rocksdbjni-written kXXH3 files
                # over data/index/properties/metaindex blocks, every codec
                # this container ships (type bytes 0x00/0x01/0x04/0x06/0x07)
                # and format_version 5 and 6 (test_rocksdb_native.py).
                actual = (
                    xxh.xxh3_64(raw) ^ (trailer[0] * 0x6B9083D9)
                ) & 0xFFFFFFFF
            else:
                raise ValueError(
                    f"{self.path}: unknown checksum type "
                    f"{self.checksum_type}"
                )
            if self.base_context_checksum:
                # format_version >= 6 adds (base_context_checksum XOR
                # lower32(block offset)) to every block checksum
                # (format.cc ChecksumModifierForContext), so a block copied
                # byte-identically to another file/offset fails verification.
                # Modifier shape confirmed against rocksdbjni-written files.
                actual = (
                    actual
                    + (self.base_context_checksum ^ (handle.offset & 0xFFFFFFFF))
                ) & 0xFFFFFFFF
            if stored != actual:
                raise ValueError(f"{self.path}: block checksum mismatch")
        if compression == NO_COMPRESSION:
            return raw
        if compression == SNAPPY_COMPRESSION:
            return fastpath.snappy_decompress(raw)
        if compression == ZLIB_COMPRESSION:
            import zlib

            def _zlib(data: bytes) -> bytes:
                # RocksDB's default CompressionOptions.window_bits is -14:
                # a RAW deflate stream, no zlib header (confirmed against
                # rocksdbjni-written blocks). Positive window_bits configs
                # emit the framed form, so accept both.
                try:
                    return zlib.decompress(data, -15)
                except zlib.error:
                    return zlib.decompress(data)

            return _sized_decompress(raw, _zlib)
        if compression == BZIP2_COMPRESSION:
            import bz2

            return _sized_decompress(raw, bz2.decompress)
        if compression in (LZ4_COMPRESSION, LZ4HC_COMPRESSION):
            # raw LZ4 blocks carry no length. compress_format_version is
            # 2 for table format_version >= 2 (format.h
            # GetCompressFormatForVersion): a varint32 decompressed size;
            # version 1 (legacy tables) memcpy's the native size_t — an
            # 8-byte little-endian length on every platform RocksDB ships.
            if self.format_version >= 2:
                size, pos = _read_uvarint(raw, 0)
            else:
                (size,) = struct.unpack("<Q", raw[:8])
                pos = 8
            return fastpath.lz4_decompress_block(raw[pos:], size)
        if compression == ZSTD_COMPRESSION:
            if fastpath.available:
                size, pos = _read_uvarint(raw, 0)
                return fastpath.zstd_decompress(raw[pos:], size)
            from bravo_spark.codecs import zstd as pzstd

            return _sized_decompress(raw, pzstd.decompress)
        name = _UNSUPPORTED_COMPRESSION.get(compression, str(compression))
        raise ValueError(
            f"{self.path}: block compressed with {name}, no {name} codec in "
            "this environment (supported: none/snappy/zlib/bzip2/lz4/zstd)"
        )

    def _read_properties(self) -> dict[bytes, bytes]:
        meta = self.read_block(self.metaindex_handle)
        props: dict[bytes, bytes] = {}
        for name, value in iter_block_entries(meta):
            if name == PROP_BLOCK_KEY:
                handle, _ = BlockHandle.decode(value)
                props = dict(iter_block_entries(self.read_block(handle)))
            elif name == _V6_INDEX_KEY and self.index_handle is None:
                self.index_handle, _ = BlockHandle.decode(value)
        if self.index_handle is None:
            raise ValueError(
                f"{self.path}: format_version {self.format_version} file "
                "has no rocksdb.index entry in its metaindex"
            )
        return props

    # --- convenience ---

    @property
    def column_family_name(self) -> str:
        return self.properties.get(PROP_CF_NAME, b"default").decode()

    @property
    def column_family_id(self) -> int:
        raw = self.properties.get(PROP_CF_ID)
        if raw is None:
            return 0
        v, _ = _read_uvarint(raw, 0)
        return v

    @property
    def index_type(self) -> int:
        raw = self.properties.get(PROP_INDEX_TYPE)
        if raw is None:
            return INDEX_BINARY_SEARCH
        v, _ = _read_uvarint(raw, 0)
        return v

    def _decode_handle(self, hval: bytes, what: str) -> BlockHandle:
        handle, pos = BlockHandle.decode(hval)
        if pos != len(hval):
            raise ValueError(
                f"{self.path}: {what} value has trailing bytes "
                "(delta-encoded index values not supported)"
            )
        return handle

    def iter_data_handles(self) -> Iterator[BlockHandle]:
        """Data-block handles in file order. A two-level (partitioned) index
        — RocksDB's default for large files, where a monolithic index block
        would not fit in block cache — adds one indirection: top-level
        entries point at index-partition blocks, whose entries point at data
        blocks. Hash-search indexes (type 1) keep the binary-search entry
        layout plus a prefix meta block we don't need for a full scan."""
        index = self.read_block(self.index_handle)
        delta = self.properties.get(
            b"rocksdb.index.value.is.delta.encoded", b"\x00"
        ) in (b"\x01", b"1")
        if self.index_type == INDEX_TWO_LEVEL:
            parts = (
                list(iter_index_handles_delta(index))
                if delta
                else [
                    self._decode_handle(hval, "top-level index")
                    for _sep, hval in iter_block_entries(index)
                ]
            )
            for part in parts:
                sub = self.read_block(part)
                if delta:
                    yield from iter_index_handles_delta(sub)
                else:
                    for _s2, hv2 in iter_block_entries(sub):
                        yield self._decode_handle(hv2, "index-partition")
        elif delta:
            yield from iter_index_handles_delta(index)
        else:
            for _sep, hval in iter_block_entries(index):
                yield self._decode_handle(hval, "index")

    def iter_entries(self) -> Iterator[tuple[bytes, int, int, bytes]]:
        """All (user_key, seq, vtype, value) in the table, file order. The
        index block's KEYS are separators we don't need; only its VALUES
        (data-block handles) are used — every data block is walked."""
        unpack_trailer = _U64_FROM  # one C call per entry, no per-call lookup
        for handle in self.iter_data_handles():
            for ikey, value in iter_block_entries(self.read_block(handle)):
                if len(ikey) < 8:
                    raise ValueError("internal key shorter than 8-byte trailer")
                (trailer,) = unpack_trailer(ikey, len(ikey) - 8)
                yield ikey[:-8], trailer >> 8, trailer & 0xFF, value


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


# 1-byte varint lookup (values < 0x80): indexing a prebuilt table beats a
# bytes((v,)) construction per length field in the writer's hot loop
_B1 = [bytes((i,)) for i in range(0x80)]


class _BlockBuilder:
    def __init__(self, restart_interval: int = 16):
        self.restart_interval = restart_interval
        self.buf = bytearray()
        self.restarts = [0]
        self.counter = 0
        self.last_key = b""
        self.size = 8  # len(buf) + 4*len(restarts) + 4, kept incrementally

    def add(self, key: bytes, value: bytes) -> None:
        shared = 0
        if self.counter < self.restart_interval:
            last = self.last_key
            m = min(len(key), len(last))
            # C-speed slice equality instead of a per-byte Python loop:
            # whole-prefix hit is one compare (the common case for
            # fixed-width sorted keys); otherwise binary-search the
            # mismatch point in O(log m) slice compares
            if key[:m] == last[:m]:
                shared = m
            else:
                lo, hi = 0, m - 1
                while lo < hi:
                    mid = (lo + hi + 1) >> 1
                    if key[:mid] == last[:mid]:
                        lo = mid
                    else:
                        hi = mid - 1
                shared = lo
        else:
            self.restarts.append(len(self.buf))
            self.counter = 0
            self.size += 4
        buf = self.buf
        before = len(buf)
        non_shared = len(key) - shared
        value_len = len(value)
        # inline 1-byte varints (the overwhelmingly common case); the
        # encoder keeps byte-identical output for the rest
        buf += _B1[shared] if shared < 0x80 else _write_uvarint(shared)
        buf += (
            _B1[non_shared]
            if non_shared < 0x80
            else _write_uvarint(non_shared)
        )
        buf += (
            _B1[value_len]
            if value_len < 0x80
            else _write_uvarint(value_len)
        )
        buf += key[shared:]
        buf += value
        self.size += len(buf) - before
        self.counter += 1
        self.last_key = key

    def finish(self) -> bytes:
        out = bytearray(self.buf)
        for r in self.restarts:
            out += struct.pack("<I", r)
        out += struct.pack("<I", len(self.restarts))
        return bytes(out)


class SstWriter:
    """Minimal but structurally faithful BlockBasedTable writer (new-format
    footer, version 2). Entries must be added in internal-key order:
    user_key ascending, then seq DESCENDING (rocksdb InternalKeyComparator)."""

    def __init__(
        self,
        path: str,
        *,
        column_family: str = "default",
        column_family_id: int = 0,
        block_size: int = 4096,
        compression: int = NO_COMPRESSION,
        merge_operator: str | None = "StringAppendOperator",
        index_type: int = INDEX_BINARY_SEARCH,
        index_partition_entries: int = 64,
        checksum_type: int = 1,
    ):
        if index_type not in (INDEX_BINARY_SEARCH, INDEX_TWO_LEVEL):
            raise ValueError("index_type must be INDEX_BINARY_SEARCH or INDEX_TWO_LEVEL")
        if checksum_type not in (1, 2, 3, 4):
            raise ValueError(
                "checksum_type must be 1 (crc32c), 2 (xxhash32), "
                "3 (xxhash64) or 4 (XXH3)"
            )
        self.checksum_type = checksum_type
        self.path = path
        self.cf_name = column_family
        self.cf_id = column_family_id
        self.block_size = block_size
        self.compression = compression
        self.merge_operator = merge_operator
        self.index_type = index_type
        self.index_partition_entries = index_partition_entries
        self._f = open(path, "wb")
        self._offset = 0
        self._data = _BlockBuilder()
        self._index_entries: list[tuple[bytes, BlockHandle]] = []
        self._last_ikey = b""
        self._last_user = b""
        self._last_seq = 0
        self._pending: list[bytes] = []
        self._num_entries = 0
        self._raw_key_size = 0
        self._raw_value_size = 0
        self._num_deletions = 0
        self._num_merges = 0
        self._data_bytes = 0
        self._closed = False

    def add(self, user_key: bytes, seq: int, vtype: int, value: bytes) -> None:
        ikey = user_key + _U64_PACK((seq << 8) | vtype)
        # ordering guard against CACHED previous components (re-parsing
        # the last internal key per add was the writer's hottest line)
        if self._last_ikey and (
            user_key < self._last_user
            or (user_key == self._last_user and seq >= self._last_seq)
        ):
            raise ValueError("entries must be sorted by (user_key asc, seq desc)")
        self._data.add(ikey, value)
        self._last_ikey = ikey
        self._last_user = user_key
        self._last_seq = seq
        self._num_entries += 1
        # raw sizes are over INTERNAL keys (user key + 8-byte trailer);
        # deletion counts feed compaction's compensated-size math, which
        # DIVIDES by (entries - deletions) — a DB open on a file claiming
        # zero raw size SIGFPEs in ComputeCompensatedSizes, so these
        # properties are required for full-DB use, not decoration.
        self._raw_key_size += len(ikey)
        self._raw_value_size += len(value)
        if vtype in (TYPE_DELETION, TYPE_SINGLE_DELETION):
            self._num_deletions += 1
        if vtype == TYPE_MERGE:
            self._num_merges += 1
        if self._data.size >= self.block_size:
            self._flush_data_block()

    def _write_block(self, content: bytes, compression: int) -> BlockHandle:
        if compression == SNAPPY_COMPRESSION:
            comp = fastpath.snappy_compress(content)
        elif compression == ZLIB_COMPRESSION:
            import zlib

            # compress_format_version 2: varint32 decompressed size + stream
            comp = _write_uvarint(len(content)) + zlib.compress(content)
        elif compression == BZIP2_COMPRESSION:
            import bz2

            comp = _write_uvarint(len(content)) + bz2.compress(content)
        elif compression in (LZ4_COMPRESSION, LZ4HC_COMPRESSION):
            comp = _write_uvarint(len(content)) + fastpath.lz4_compress_block(
                content
            )
        elif compression == ZSTD_COMPRESSION:
            # write support exists only through the native codec (the
            # pure zstd implementation is decode-only); fastpath raises
            # a named error when pyarrow is unavailable
            comp = _write_uvarint(len(content)) + fastpath.zstd_compress(
                content
            )
        elif compression == NO_COMPRESSION:
            comp = None
        else:
            name = _UNSUPPORTED_COMPRESSION.get(compression, str(compression))
            raise ValueError(f"no {name} codec in this environment")
        if comp is not None and len(comp) < len(content):
            content, ctype = comp, compression
        else:
            ctype = NO_COMPRESSION
        # the handle depends only on sizes, so the block can be QUEUED and
        # its trailer checksum computed in a numpy BATCH at flush time
        # (crc32c_batch) — checksumming was ~half of write cost scalar.
        # Output bytes and ordering are identical to immediate writes;
        # memory is bounded by _CHECKSUM_BATCH blocks (~4 MB at the 4 KB
        # default block size, plus whatever single oversized block — e.g.
        # the monolithic index at finish() — is in flight; crc32c_batch
        # checksums in slabs of ~0.5 MiB, so an outlier never inflates its
        # temporaries).
        handle = BlockHandle(self._offset, len(content))
        self._pending.append(content + bytes([ctype]))
        self._offset += len(content) + 5
        if len(self._pending) >= self._CHECKSUM_BATCH:
            self._flush_pending()
        return handle

    _CHECKSUM_BATCH = 1024  # ~4 MB of queued 4 KB blocks

    def _flush_pending(self) -> None:
        if not self._pending:
            return
        ct = self.checksum_type
        if ct == 1:  # kCRC32c — numpy-batched, then RocksDB-masked
            sums = [crc32c.mask(c) for c in crc32c.crc32c_batch(self._pending)]
        elif ct == 2:  # kxxHash: covers content + type byte, unmasked
            sums = [xxh.xxh32(blob) for blob in self._pending]
        elif ct == 3:  # kxxHash64, low 32 bits
            sums = [xxh.xxh64(blob) & 0xFFFFFFFF for blob in self._pending]
        else:  # kXXH3: hash EXCLUDES the type byte, folded in afterwards
            # via ModifyChecksumForLastByte (see read_block's verifier,
            # cross-validated against rocksdbjni-written kXXH3 files)
            sums = [
                (xxh.xxh3_64(blob[:-1]) ^ (blob[-1] * 0x6B9083D9))
                & 0xFFFFFFFF
                for blob in self._pending
            ]
        write = self._f.write
        for blob, cv in zip(self._pending, sums):
            write(blob)  # content + 1-byte compression type
            write(struct.pack("<I", cv))
        self._pending.clear()

    def _flush_data_block(self) -> None:
        if not self._data.buf:
            return
        handle = self._write_block(self._data.finish(), self.compression)
        self._data_bytes += handle.size
        self._index_entries.append((self._last_ikey, handle))
        self._data = _BlockBuilder()

    def _properties_block(self) -> bytes:
        props: dict[bytes, bytes] = {
            PROP_CF_NAME: self.cf_name.encode(),
            PROP_CF_ID: _write_uvarint(self.cf_id),
            PROP_INDEX_TYPE: _write_uvarint(self.index_type),
            b"rocksdb.num.entries": _write_uvarint(self._num_entries),
            b"rocksdb.raw.key.size": _write_uvarint(self._raw_key_size),
            b"rocksdb.raw.value.size": _write_uvarint(self._raw_value_size),
            b"rocksdb.deleted.keys": _write_uvarint(self._num_deletions),
            b"rocksdb.num.range-deletions": _write_uvarint(0),
            b"rocksdb.merge.operands": _write_uvarint(self._num_merges),
            b"rocksdb.data.size": _write_uvarint(self._data_bytes),
        }
        if self.merge_operator:
            props[PROP_MERGE_OPERATOR] = self.merge_operator.encode()
        b = _BlockBuilder(restart_interval=1)  # property blocks restart per key
        for k in sorted(props):
            b.add(k, props[k])
        return b.finish()

    def _write_index(self) -> BlockHandle:
        if self.index_type == INDEX_TWO_LEVEL:
            # partition the separator→handle entries; top level maps each
            # partition's last separator to the partition block's handle
            top = _BlockBuilder(restart_interval=1)
            n = max(1, self.index_partition_entries)
            for i in range(0, len(self._index_entries), n):
                chunk = self._index_entries[i : i + n]
                part = _BlockBuilder(restart_interval=1)
                for sep, handle in chunk:
                    part.add(sep, handle.encode())
                part_handle = self._write_block(part.finish(), NO_COMPRESSION)
                top.add(chunk[-1][0], part_handle.encode())
            return self._write_block(top.finish(), NO_COMPRESSION)
        index = _BlockBuilder(restart_interval=1)
        for sep, handle in self._index_entries:
            index.add(sep, handle.encode())
        return self._write_block(index.finish(), NO_COMPRESSION)

    def finish(self) -> None:
        if self._closed:
            return
        self._flush_data_block()
        # meta blocks are never compressed
        props_handle = self._write_block(self._properties_block(), NO_COMPRESSION)
        meta = _BlockBuilder(restart_interval=1)
        meta.add(PROP_BLOCK_KEY, props_handle.encode())
        metaindex_handle = self._write_block(meta.finish(), NO_COMPRESSION)
        index_handle = self._write_index()
        self._flush_pending()  # drain queued blocks before the footer
        # footer: [checksum type][handles padded to 40][version][magic]
        handles = metaindex_handle.encode() + index_handle.encode()
        footer = (
            bytes([self.checksum_type]) + handles + b"\x00" * (40 - len(handles))
        )
        footer += struct.pack("<I", 2)
        footer += struct.pack("<Q", BLOCK_BASED_MAGIC)
        assert len(footer) == _FOOTER_NEW
        self._f.write(footer)
        self._f.close()
        self._closed = True

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        if not self._closed:
            self.finish()
