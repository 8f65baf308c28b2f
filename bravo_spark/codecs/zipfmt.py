"""ZIP container codec — the third training-shard container.

ZIP (PKWARE APPNOTE.TXT, public spec) is the remaining shard container
real corpora arrive in after TFRecord (``codecs/tfrecord.py``) and
WebDataset tar (``sources/webdataset_source.py``): image sets, code
dumps, and scraped-document drops ship as ``.zip`` shards. Unlike tar,
ZIP carries a CENTRAL DIRECTORY at the tail, so a reader seeks straight
to the member list — but a shard is still consumed whole here
(``binaryFile`` grain), so the directory's value is integrity, not
random access: every member is sliced by the directory's offsets and
verified against its recorded CRC-32 and sizes.

Format discipline, matching the repo's other containers:

- **parse by the spec, not by trust**: EOCD located by the strict
  tail-scan rule (signature + comment length must land exactly on the
  archive end), self-extracting-stub prepended junk handled by the
  standard concatenation offset adjustment, central-directory entries
  cross-checked against their local headers (signature AND name), and
  every payload CRC-verified after decode;
- **output-bounded inflate**: deflate members decode under the same
  512x / 64 MiB cap the HTTP entity decoder uses (``codecs/http.py``)
  and must reproduce EXACTLY the directory's uncompressed size — a
  lying length field refuses by name either way;
- **named refusals** for what this reader will not guess at: encryption
  (flag bit 0), compression methods other than stored/deflate,
  torn/overlapping structures. zip64 archives READ fine — real
  training datasets ship as >65535-member / >4 GiB zips (the ImageNet
  shape): zip64 EOCD locator/record chain verified by the record's own
  size field, masked CD fields resolved from the 0x0001 extra — while
  the WRITER refuses zip64 (a partition-grain shard never legitimately
  needs it; repartition upstream instead);
- **deterministic writer**: fixed DOS timestamp (1980-01-01 00:00),
  UTF-8 name flag only, no extra fields, no comments — same input,
  same zlib build -> byte-identical shards (the WARC/TFRecord/
  WebDataset posture).

Validated both directions against stdlib ``zipfile`` in
``tests/test_zip_source.py``; ``zipfile`` itself is deliberately NOT
used here — the framing is the surface under test.
"""

from __future__ import annotations

import io
import struct
import zlib
from typing import Iterable, Iterator

_EOCD_SIG = b"PK\x05\x06"
_CEN_SIG = b"PK\x01\x02"
_LOC_SIG = b"PK\x03\x04"
_ZIP64_EOCD_LOC_SIG = b"PK\x06\x07"
_ZIP64_EOCD_SIG = b"PK\x06\x06"

_STORED = 0
_DEFLATED = 8

# same posture as codecs/http.py: legitimate text inflates ~3-20x;
# 512x the compressed size (floored at 64 MiB) is a named bomb refusal
_MAX_INFLATE_RATIO = 512
_MIN_INFLATE_CAP = 64 * 1024 * 1024

# zip64 territory: a partition-grain shard should never get here —
# the writer refuses and tells you to repartition instead
_MAX_U16 = 0xFFFF
_MAX_U32 = 0xFFFFFFFF

# deterministic DOS stamp: 1980-01-01 00:00:00 (the epoch of the DOS
# date format — year 0, month 1, day 1)
_DOS_DATE = 0x0021
_DOS_TIME = 0

_FLAG_ENCRYPTED = 0x0001
_FLAG_DATA_DESCRIPTOR = 0x0008
_FLAG_UTF8 = 0x0800


class ZipError(ValueError):
    """Malformed/unsupported ZIP archive (torn structure, bad CRC,
    encryption, unknown compression method, zip64 on the WRITE
    path — reading zip64 is supported)."""


def _dec_name(raw: bytes, flags: int) -> str:
    # APPNOTE D.1: names are cp437 unless flag bit 11 declares UTF-8
    if flags & _FLAG_UTF8:
        try:
            return raw.decode("utf-8", errors="strict")
        except UnicodeDecodeError as exc:
            raise ZipError(f"member name {raw!r} declares UTF-8 but is "
                           "not valid UTF-8") from exc
    return raw.decode("cp437")


def _find_eocd(data: bytes) -> int:
    """Absolute offset of the EOCD record, by the strict rule: the
    signature whose comment-length field lands the record exactly on
    the archive end. Scanned from the end so a comment that happens to
    contain the signature bytes cannot shadow the real record."""
    if len(data) < 22:
        raise ZipError(f"archive is {len(data)} bytes — shorter than an "
                       "empty ZIP's 22-byte end record")
    lo = max(0, len(data) - 22 - _MAX_U16)
    pos = data.rfind(_EOCD_SIG, lo)
    while pos != -1:
        if len(data) >= pos + 22:
            (comment_len,) = struct.unpack_from("<H", data, pos + 20)
            if pos + 22 + comment_len == len(data):
                return pos
        pos = data.rfind(_EOCD_SIG, lo, pos)
    raise ZipError("no end-of-central-directory record — torn or not a ZIP")


def _read_eocd64(
    data: bytes, eocd: int
) -> tuple[int, int, int, int] | None:
    """``(n_total, cd_size, cd_off, record_pos)`` from the zip64 EOCD
    record, or None when the archive has no zip64 EOCD locator. The
    locator sits in the 20 bytes before the EOCD; the zip64 EOCD
    record it points at must END exactly where the locator begins
    (record length is variable — extensible data — so the chain is
    verified by the record's own size field, which also makes the
    lookup immune to prepended-junk offset shift)."""
    loc = eocd - 20
    if loc < 0 or data[loc:loc + 4] != _ZIP64_EOCD_LOC_SIG:
        return None
    (loc_disk, rec_off, n_disks) = struct.unpack_from("<IQI", data,
                                                      loc + 4)
    if loc_disk or n_disks > 1:
        raise ZipError("multi-disk zip64 archives are not supported")

    def _chains(p: int) -> bool:
        # a candidate record must END flush against the locator, per
        # its own declared size (fixed fields + extensible data)
        if p < 0 or data[p:p + 4] != _ZIP64_EOCD_SIG or p + 12 > loc:
            return False
        (size,) = struct.unpack_from("<Q", data, p + 4)
        return p + 12 + size == loc

    # the recorded offset is exact for an unprepended archive; under
    # prepended junk it shifts, so fall back to a backward scan for the
    # record whose declared size lands it flush against the locator
    # (bounded at 1 MiB of extensible data — far past anything real)
    pos = rec_off if _chains(rec_off) else -1
    if pos == -1:
        win = max(0, loc - (1 << 20))
        pos = data.rfind(_ZIP64_EOCD_SIG, win, loc)
        while pos != -1 and not _chains(pos):
            pos = data.rfind(_ZIP64_EOCD_SIG, win, pos)
    if pos == -1:
        raise ZipError(
            "zip64 EOCD locator present but no zip64 EOCD record "
            "chains to it (searched the recorded offset and the 1 MiB "
            "before the locator) — torn archive")
    (rec_size,) = struct.unpack_from("<Q", data, pos + 4)
    if rec_size < 44:
        raise ZipError("zip64 EOCD record shorter than its fixed fields")
    (_vm, _vn, disk_no, cd_disk, n_here, n_total, cd_size,
     cd_off) = struct.unpack_from("<HHIIQQQQ", data, pos + 12)
    if disk_no or cd_disk or n_here != n_total:
        raise ZipError("multi-disk ZIP archives are not supported")
    return n_total, cd_size, cd_off, pos


def _zip64_extra(extra: bytes, name: str, usize: int, csize: int,
                 loc_off: int) -> tuple[int, int, int]:
    """Resolve 0xFFFFFFFF-masked CD fields from the member's zip64
    extra field (header ID 0x0001: 8-byte values for exactly the
    masked fields, in usize/csize/loc_off order per APPNOTE 4.5.3)."""
    need = ((usize == _MAX_U32) + (csize == _MAX_U32)
            + (loc_off == _MAX_U32))
    if not need:
        return usize, csize, loc_off
    pos = 0
    while pos + 4 <= len(extra):
        hid, hsize = struct.unpack_from("<HH", extra, pos)
        body = extra[pos + 4:pos + 4 + hsize]
        pos += 4 + hsize
        if hid != 0x0001:
            continue
        if len(body) < 8 * need:
            raise ZipError(
                f"member {name!r}: zip64 extra field holds "
                f"{len(body)} bytes for {need} masked field(s)")
        vals = iter(struct.unpack_from(f"<{need}Q", body))
        if usize == _MAX_U32:
            usize = next(vals)
        if csize == _MAX_U32:
            csize = next(vals)
        if loc_off == _MAX_U32:
            loc_off = next(vals)
        return usize, csize, loc_off
    raise ZipError(f"member {name!r}: fields are 0xFFFFFFFF-masked but "
                   "no zip64 extra field resolves them")


def iter_zip(data: bytes) -> Iterator[tuple[str, bytes]]:
    """Yield ``(member name, decoded bytes)`` in central-directory
    order, CRC-verified. Directory entries (trailing ``/``, empty
    payload) are skipped — they are not members, matching the tar
    reader's ``isreg()`` rule. zip64 archives READ fine (real training
    datasets ship as >65535-member / >4 GiB zips — the ImageNet shape);
    only the WRITER refuses zip64, because a partition-grain shard
    never needs it. Refuses by name on every structural or integrity
    defect (see module docstring)."""
    eocd = _find_eocd(data)
    (disk_no, cd_disk, n_here, n_total, cd_size, cd_off,
     _comment_len) = struct.unpack_from("<HHHHIIH", data, eocd + 4)
    z64 = _read_eocd64(data, eocd)
    if z64 is not None:
        # the zip64 record supersedes EVERY EOCD field (APPNOTE 4.4.19+:
        # a zip64 writer may 0xFFFF-mask even the disk numbers in the
        # EOCD — the record's own disk fields are checked inside
        # _read_eocd64); the CD ends where the record begins
        n_total, cd_size, cd_off, cd_end = z64
    else:
        if disk_no or cd_disk or n_here != n_total:
            raise ZipError("multi-disk ZIP archives are not supported")
        if (n_total == _MAX_U16 or cd_size == _MAX_U32
                or cd_off == _MAX_U32):
            raise ZipError("EOCD carries zip64 markers but no zip64 "
                           "EOCD locator — torn archive")
        cd_end = eocd
    # self-extracting stubs prepend bytes before the first local header;
    # every recorded offset shifts by the same amount (the standard
    # concatenation adjustment stdlib zipfile applies)
    concat = cd_end - (cd_off + cd_size)
    if concat < 0:
        raise ZipError("central directory overruns the end record")
    pos = cd_off + concat
    for _ in range(n_total):
        if pos + 46 > cd_end:
            raise ZipError("central directory is torn (entry past its "
                           "recorded size)")
        if data[pos:pos + 4] != _CEN_SIG:
            raise ZipError(f"bad central-directory signature at {pos}")
        (_ver_made, _ver_need, flags, method, _t, _d, crc, csize, usize,
         name_len, extra_len, comment_len, _disk, _iattr, _eattr,
         loc_off) = struct.unpack_from("<HHHHHHIIIHHHHHII", data, pos + 4)
        raw_name = data[pos + 46:pos + 46 + name_len]
        if len(raw_name) != name_len:
            raise ZipError("central directory is torn (truncated name)")
        extra = data[pos + 46 + name_len:pos + 46 + name_len + extra_len]
        pos += 46 + name_len + extra_len + comment_len
        name = _dec_name(raw_name, flags)
        if flags & _FLAG_ENCRYPTED:
            raise ZipError(f"member {name!r} is encrypted — refusing")
        usize, csize, loc_off = _zip64_extra(extra, name, usize, csize,
                                             loc_off)
        if name.endswith("/") and usize == 0:
            continue  # directory entry, not a member
        yield name, _read_member(data, name, flags, method, crc,
                                 csize, usize, loc_off + concat)
    if pos != cd_end:
        raise ZipError("trailing bytes inside the central directory")


def _read_member(data: bytes, name: str, flags: int, method: int,
                 crc: int, csize: int, usize: int, loc_off: int) -> bytes:
    if loc_off + 30 > len(data):
        raise ZipError(f"member {name!r}: local header past archive end")
    if data[loc_off:loc_off + 4] != _LOC_SIG:
        raise ZipError(f"member {name!r}: bad local-header signature")
    (loc_name_len, loc_extra_len) = struct.unpack_from(
        "<HH", data, loc_off + 26)
    loc_name = data[loc_off + 30:loc_off + 30 + loc_name_len]
    # the directory is authoritative for sizes/CRC (flag bit 3 zeroes
    # the local copies), but the NAME must agree — a mismatch means the
    # offsets point into the wrong member (overlap/tamper)
    if _dec_name(loc_name, flags) != name:
        raise ZipError(
            f"member {name!r}: local header names "
            f"{_dec_name(loc_name, flags)!r} — directory offsets are "
            "inconsistent")
    start = loc_off + 30 + loc_name_len + loc_extra_len
    body = data[start:start + csize]
    if len(body) != csize:
        raise ZipError(f"member {name!r}: payload truncated "
                       f"({len(body)} of {csize} bytes)")
    if method == _STORED:
        if csize != usize:
            raise ZipError(f"member {name!r}: stored member's sizes "
                           f"disagree ({csize} != {usize})")
        out = body
    elif method == _DEFLATED:
        cap = max(csize * _MAX_INFLATE_RATIO, _MIN_INFLATE_CAP)
        if usize > cap:
            raise ZipError(
                f"member {name!r} declares {usize} bytes — past "
                f"{_MAX_INFLATE_RATIO}x its compressed size; "
                "decompression-bomb refusal")
        d = zlib.decompressobj(-15)  # raw deflate, no zlib header
        try:
            # usize + 1 so a stream producing MORE than declared is
            # detected without ever materializing past the bound
            out = d.decompress(body, usize + 1)
        except zlib.error as exc:
            raise ZipError(f"member {name!r}: torn deflate stream: "
                           f"{exc}") from exc
        if len(out) > usize or not d.eof or d.unconsumed_tail:
            raise ZipError(
                f"member {name!r}: deflate stream disagrees with the "
                f"directory's {usize}-byte size")
        if len(out) != usize:
            raise ZipError(
                f"member {name!r}: inflated to {len(out)} bytes, "
                f"directory says {usize}")
    else:
        raise ZipError(f"member {name!r}: compression method {method} "
                       "is not supported (stored/deflate only)")
    if zlib.crc32(out) != crc:
        raise ZipError(f"member {name!r}: CRC-32 mismatch")
    return out


def parse_zip(data: bytes) -> list[tuple[str, bytes]]:
    """Eager :func:`iter_zip`."""
    return list(iter_zip(data))


def write_zip(entries: Iterable[tuple[str, bytes]], *,
              method: str = "deflate", level: int = 6,
              out=None) -> bytes | None:
    """Serialize ``(name, payload)`` pairs into one deterministic ZIP
    archive: fixed DOS stamp, UTF-8 name flag only, no extra fields or
    comments, members in input order. ``method`` is ``"deflate"``
    (training text compresses; the default) or ``"stored"``
    (byte-transparent). Refuses by name on empty/duplicate names and on
    anything that would need zip64. With a binary file-like ``out``,
    members stream into it as they are encoded (only the central
    directory is held) and None is returned; otherwise the archive is
    returned as bytes."""
    if method == "deflate":
        m = _DEFLATED
    elif method == "stored":
        m = _STORED
    else:
        raise ZipError(f"unsupported write method {method!r} "
                       "(stored/deflate)")
    sink = io.BytesIO() if out is None else out
    centrals: list[bytes] = []
    offset = 0
    seen: set[str] = set()
    for name, payload in entries:
        if not name or name.endswith("/"):
            raise ZipError(f"member name {name!r} is empty or a "
                           "directory — a shard member needs a payload "
                           "name")
        if name in seen:
            raise ZipError(f"duplicate member name {name!r} — the "
                           "reader's directory walk cannot distinguish "
                           "the copies")
        seen.add(name)
        if len(seen) >= _MAX_U16:
            # 65535 members is spec-legal, but writes n_total == 0xFFFF
            # — the byte pattern THIS reader (and zip64-aware readers
            # generally) treats as the zip64 marker and refuses. Stop
            # one short so every archive we write, we can read.
            raise ZipError(
                "65535 members would set the zip64 marker (0xFFFF) in "
                "the end record — repartition the writer's input into "
                "smaller shards")
        raw_name = name.encode("utf-8")
        if len(raw_name) > _MAX_U16:
            raise ZipError(f"member name {name!r} exceeds 65535 bytes")
        data = bytes(payload)
        usize = len(data)
        if m == _DEFLATED:
            c = zlib.compressobj(level, zlib.DEFLATED, -15)
            body = c.compress(data) + c.flush()
        else:
            body = data
        csize = len(body)
        if usize >= _MAX_U32 or csize >= _MAX_U32:
            raise ZipError(
                f"member {name!r} is {usize} bytes — zip64 territory; "
                "repartition the writer's input into smaller shards")
        crc = zlib.crc32(data)
        common = struct.pack("<HHHHIII", _FLAG_UTF8, m, _DOS_TIME,
                             _DOS_DATE, crc, csize, usize)
        local = (_LOC_SIG + struct.pack("<H", 20) + common
                 + struct.pack("<HH", len(raw_name), 0) + raw_name + body)
        sink.write(local)
        centrals.append(_CEN_SIG + struct.pack("<HH", 20, 20) + common
                        + struct.pack("<HHHHHII", len(raw_name), 0, 0,
                                      0, 0, 0, offset) + raw_name)
        offset += len(local)
        if offset >= _MAX_U32:
            raise ZipError("archive exceeds 4 GiB — zip64 territory; "
                           "repartition the writer's input")
    n = len(centrals)
    cd = b"".join(centrals)
    eocd = _EOCD_SIG + struct.pack("<HHHHIIH", 0, 0, n, n, len(cd),
                                   offset, 0)
    sink.write(cd + eocd)
    return sink.getvalue() if out is None else None
