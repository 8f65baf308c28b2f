"""Pure-Python RocksDB MANIFEST / DB-directory writer.

Builds a complete, openable RocksDB database directory from plain
key/value entries: one SST (sources/sst.py SstWriter), a MANIFEST whose
VersionEdit records register it, CURRENT, and an empty WAL. Real RocksDB
(rocksdbjni — the library a Flink TaskManager and Spark's
RocksDBStateStoreProvider embed) must open the result with no repair;
tests cross-validate exactly that.

This is the missing write half of zip-per-version RocksDB state
checkpoints: reading them only needs the SST parser, but REWRITING one
means producing a directory RocksDB itself will open
(sources/rocksdb_state.write_rocksdb_spark_state uses this for zip-mode
stores).

Format notes (all public, from leveldb/rocksdb docs + source layout):

- MANIFEST is a leveldb-log-format file: 32 KiB blocks, each record
  framed ``[masked crc32c(type+payload) LE][len u16 LE][type u8]`` with
  type full/first/middle/last (1-4); crc uses the same mask constant as
  SST block trailers (codecs/crc32c.py).
- Records are VersionEdits, encoded as (varint32 tag, value) pairs:
  kComparator=1 (len-prefixed name), kLogNumber=2, kNextFileNumber=3,
  kLastSequence=4 (varint64s), kNewFile2=100 (varint32 level, varint64
  file number, varint64 size, len-prefixed smallest/largest INTERNAL
  keys, varint64 smallest/largest seqno).
- CURRENT is the manifest filename + ``\\n``.
- Internal keys are ``user_key + (seq << 8 | value_type)`` packed LE64 —
  the same layout sources/sst.py writes inside SSTs.
"""

from __future__ import annotations

import os

import struct

from bravo_spark.codecs import crc32c as _crc
from bravo_spark.codecs.varint import write_uvarint
from bravo_spark.sources import sst as sstmod

LOG_BLOCK_SIZE = 32 * 1024
_FULL, _FIRST, _MIDDLE, _LAST = 1, 2, 3, 4

TAG_COMPARATOR = 1
TAG_LOG_NUMBER = 2
TAG_NEXT_FILE_NUMBER = 3
TAG_LAST_SEQUENCE = 4
TAG_NEW_FILE2 = 100
TAG_COLUMN_FAMILY = 200  # selects the CF an edit applies to (default 0)
TAG_COLUMN_FAMILY_ADD = 201
TAG_MAX_COLUMN_FAMILY = 203

DEFAULT_COMPARATOR = b"leveldb.BytewiseComparator"


def _lenpref(b: bytes) -> bytes:
    return write_uvarint(len(b)) + b


def encode_version_edit(
    *,
    comparator: bytes | None = None,
    log_number: int | None = None,
    next_file_number: int | None = None,
    last_sequence: int | None = None,
    new_files: list[tuple[int, int, int, bytes, bytes, int, int]] = (),
    column_family: int | None = None,
    column_family_add: bytes | None = None,
    max_column_family: int | None = None,
) -> bytes:
    """One VersionEdit. ``new_files`` entries are (level, file_number,
    file_size, smallest_internal_key, largest_internal_key,
    smallest_seqno, largest_seqno). ``column_family`` scopes the edit to
    that CF id; with ``column_family_add`` it is the id the named new CF
    receives."""
    out = bytearray()
    if comparator is not None:
        out += write_uvarint(TAG_COMPARATOR) + _lenpref(comparator)
    if log_number is not None:
        out += write_uvarint(TAG_LOG_NUMBER) + write_uvarint(log_number)
    if next_file_number is not None:
        out += write_uvarint(TAG_NEXT_FILE_NUMBER) + write_uvarint(next_file_number)
    if last_sequence is not None:
        out += write_uvarint(TAG_LAST_SEQUENCE) + write_uvarint(last_sequence)
    if max_column_family is not None:
        out += write_uvarint(TAG_MAX_COLUMN_FAMILY) + write_uvarint(max_column_family)
    for level, fno, size, smallest, largest, sseq, lseq in new_files:
        out += write_uvarint(TAG_NEW_FILE2)
        out += write_uvarint(level) + write_uvarint(fno) + write_uvarint(size)
        out += _lenpref(smallest) + _lenpref(largest)
        out += write_uvarint(sseq) + write_uvarint(lseq)
    if column_family is not None:
        out += write_uvarint(TAG_COLUMN_FAMILY) + write_uvarint(column_family)
    if column_family_add is not None:
        out += write_uvarint(TAG_COLUMN_FAMILY_ADD) + _lenpref(column_family_add)
    return bytes(out)


def write_log(records: list[bytes]) -> bytes:
    """Frame ``records`` in the leveldb log format (MANIFEST/WAL framing).
    Handles block-boundary splitting (first/middle/last fragments) and the
    <7-byte trailer zero-fill rule."""
    out = bytearray()
    for rec in records:
        pos = 0
        first = True
        while True:
            room = LOG_BLOCK_SIZE - (len(out) % LOG_BLOCK_SIZE)
            if room < 7:
                out += b"\x00" * room
                continue
            avail = room - 7
            frag = rec[pos : pos + avail]
            pos += len(frag)
            done = pos >= len(rec)
            if first and done:
                t = _FULL
            elif first:
                t = _FIRST
            elif done:
                t = _LAST
            else:
                t = _MIDDLE
            crc = _crc.mask(_crc.crc32c(bytes([t]) + frag))
            out += struct.pack("<IH", crc, len(frag)) + bytes([t])
            out += frag
            first = False
            if done:
                break
    return bytes(out)


def build_db_dir_multi_cf(
    path: str,
    families: dict[str, list[tuple[bytes, int, int, bytes]]],
    *,
    cf_ids: dict[str, int] | None = None,
    manifest_number: int = 1,
    wal_number: int = 2,
    compression: int = sstmod.SNAPPY_COMPRESSION,
) -> dict[str, int]:
    """Create an openable RocksDB directory with one column family (and
    one L0 SST) per entry of ``families``: {cf_name: [(user_key, seq,
    vtype, value), ...]} — the layout Flink's RocksDB backend keeps state
    in (one CF per registered state, default CF empty). ``cf_ids``
    assigns explicit ids (default: 1, 2, ... in sorted-name order).
    Returns {filename: size}.

    MANIFEST structure: a base edit for the default CF (comparator,
    log/next-file/last-sequence numbers, max CF id), then per family a
    kColumnFamilyAdd edit followed by a CF-scoped edit registering its
    SST — the same record sequence a live RocksDB emits for
    CreateColumnFamily + flush. Real rocksdbjni must open the result
    (tests cross-validate, incl. listColumnFamilies).

    ``compression`` defaults to snappy — RocksDB's own production default
    — now that block compression is real and cheap (codecs/fastpath.py);
    pass ``sstmod.NO_COMPRESSION`` / ``ZSTD_COMPRESSION`` to match a
    target cluster's column-family options."""
    os.makedirs(path, exist_ok=True)
    names = sorted(families)
    ids = dict(cf_ids or {n: i + 1 for i, n in enumerate(names)})
    next_file = max(manifest_number, wal_number) + 1
    sizes: dict[str, int] = {}
    edits: list[bytes] = []
    max_seq = 1
    cf_files: dict[str, tuple[int, int, bytes, bytes, int, int]] = {}
    for name in names:
        rows = sorted(families[name], key=lambda r: (r[0], -r[1]))
        if not rows:
            continue
        fno = next_file
        next_file += 1
        sst_name = f"{fno:06d}.sst"
        sst_path = os.path.join(path, sst_name)
        with sstmod.SstWriter(
            sst_path, column_family=name, column_family_id=ids[name],
            compression=compression,
        ) as w:
            for ukey, seq, vtype, value in rows:
                w.add(ukey, seq, vtype, value)
                max_seq = max(max_seq, seq)
        size = os.path.getsize(sst_path)
        sizes[sst_name] = size
        k0, s0, t0 = rows[0][0], rows[0][1], rows[0][2]
        kl, sl, tl = rows[-1][0], rows[-1][1], rows[-1][2]
        smallest = sstmod.make_internal_key(k0, s0, t0)
        largest = sstmod.make_internal_key(kl, sl, tl)
        seqs = [r[1] for r in rows]
        cf_files[name] = (fno, size, smallest, largest, min(seqs), max(seqs))
    edits.append(
        encode_version_edit(
            comparator=DEFAULT_COMPARATOR,
            log_number=wal_number,
            next_file_number=next_file,
            last_sequence=max_seq,
            max_column_family=max(ids.values(), default=0),
        )
    )
    for name in names:
        edits.append(
            encode_version_edit(
                column_family=ids[name], column_family_add=name.encode()
            )
        )
        if name in cf_files:
            fno, size, smallest, largest, sseq, lseq = cf_files[name]
            edits.append(
                encode_version_edit(
                    comparator=DEFAULT_COMPARATOR,
                    column_family=ids[name],
                    log_number=wal_number,
                    new_files=[(0, fno, size, smallest, largest, sseq, lseq)],
                )
            )
    manifest_name = f"MANIFEST-{manifest_number:06d}"
    data = write_log(edits)
    with open(os.path.join(path, manifest_name), "wb") as f:
        f.write(data)
    sizes[manifest_name] = len(data)
    cur = manifest_name.encode() + b"\n"
    with open(os.path.join(path, "CURRENT"), "wb") as f:
        f.write(cur)
    sizes["CURRENT"] = len(cur)
    wal_name = f"{wal_number:06d}.log"
    open(os.path.join(path, wal_name), "wb").close()
    sizes[wal_name] = 0
    return sizes


def build_db_dir(
    path: str,
    entries: list[tuple[bytes, bytes]],
    *,
    sst_file_number: int = 8,
    manifest_number: int = 5,
    wal_number: int = 4,
    seq: int = 1,
    compression: int = sstmod.SNAPPY_COMPRESSION,
) -> dict[str, int]:
    """Create a complete RocksDB DB directory at ``path`` whose single L0
    SST holds ``entries`` (sorted by user key, all at sequence ``seq``,
    value type Put). Returns {filename: size} for every file written —
    callers assembling checkpoint metadata need the SST size.

    Layout mirrors what a fresh RocksDB + one flush produces: the SST,
    MANIFEST-<n>, CURRENT, and an empty WAL (log_number points at it;
    RocksDB accepts an empty WAL and replays nothing)."""
    os.makedirs(path, exist_ok=True)
    entries = sorted(entries)
    sst_name = f"{sst_file_number:06d}.sst"
    sst_path = os.path.join(path, sst_name)
    w = sstmod.SstWriter(sst_path, compression=compression)
    for k, v in entries:
        w.add(k, seq, sstmod.TYPE_VALUE, v)
    w.finish()
    sst_size = os.path.getsize(sst_path)

    sizes = {sst_name: sst_size}
    if entries:
        smallest = sstmod.make_internal_key(entries[0][0], seq, sstmod.TYPE_VALUE)
        largest = sstmod.make_internal_key(entries[-1][0], seq, sstmod.TYPE_VALUE)
        files = [(0, sst_file_number, sst_size, smallest, largest, seq, seq)]
    else:
        files = []
    edit = encode_version_edit(
        comparator=DEFAULT_COMPARATOR,
        log_number=wal_number,
        next_file_number=max(sst_file_number, manifest_number, wal_number) + 1,
        last_sequence=seq,
        new_files=files,
    )
    manifest_name = f"MANIFEST-{manifest_number:06d}"
    with open(os.path.join(path, manifest_name), "wb") as f:
        data = write_log([edit])
        f.write(data)
        sizes[manifest_name] = len(data)
    with open(os.path.join(path, "CURRENT"), "wb") as f:
        cur = manifest_name.encode() + b"\n"
        f.write(cur)
        sizes["CURRENT"] = len(cur)
    wal_name = f"{wal_number:06d}.log"
    open(os.path.join(path, wal_name), "wb").close()
    sizes[wal_name] = 0
    return sizes
