"""WARC (Web ARChive, ISO 28500 / WARC-1.1) reader and writer.

The container format of web-crawl corpora: Common Crawl distributes raw
crawls as ``.warc.gz``, extracted text as WET (``WARC-Type: conversion``)
— the actual entry point of an LLM training-data pipeline. This module is
the pure-Python codec half; the Spark plumbing (``binaryFile`` source →
Arrow-batched parse) lives in ``inventory/formats.py``.

Format (IIPC spec, warc-1.1 §4): each record is

    WARC/1.0<CRLF>
    <header-name>: <value><CRLF> ...
    <CRLF>
    <Content-Length bytes of payload>
    <CRLF><CRLF>

``.warc.gz`` compresses EACH RECORD AS ITS OWN GZIP MEMBER (spec annex C
recommendation) so readers can split at member boundaries; the parser
also accepts a single-member stream and plain uncompressed bytes.

Strictness: framing errors raise ``WarcError`` with the byte offset —
a crawl pipeline must *know* when an archive is torn, not silently skip
tail records.
"""

from __future__ import annotations

import io
import zlib
from typing import Iterable, Iterator

_CRLF = b"\r\n"
_VERSIONS = (b"WARC/1.0", b"WARC/1.1")


class WarcError(ValueError):
    """Malformed WARC framing (bad version line, length mismatch,
    truncated record, missing record terminator)."""


# Archive decompression-bomb ceiling: legitimate WET/WARC text archives
# inflate ~3-10×; 512× the compressed size (floor 64 MiB so tiny
# archives aren't over-constrained) bounds an adversarial member/frame
# without refusing any real crawl drop. Crawl ingest parses untrusted
# bytes BY DEFINITION, so the decompressors must never materialize
# unbounded output before a size check can run.
_MAX_INFLATE_RATIO = 512
_MIN_INFLATE_CAP = 64 << 20


def _inflate_cap(n_compressed: int) -> int:
    return max(n_compressed * _MAX_INFLATE_RATIO, _MIN_INFLATE_CAP)


def _gunzip_members(data: bytes) -> bytes:
    """Decompress a possibly multi-member gzip stream (each WARC record
    its own member) into one plain byte string, output-bounded against
    decompression bombs."""
    cap = _inflate_cap(len(data))
    out = io.BytesIO()
    total = 0
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)  # 31 = gzip header expected
        feed = data[pos:]
        while True:
            try:
                chunk = d.decompress(feed, cap + 1 - total)
            except zlib.error as exc:
                raise WarcError(
                    f"bad gzip member at byte {pos}: {exc}") from exc
            out.write(chunk)
            total += len(chunk)
            if total > cap:
                raise WarcError(
                    f"archive inflates past {cap} bytes "
                    f"({_MAX_INFLATE_RATIO}x its compressed size) — "
                    "decompression bomb")
            if d.eof:
                break
            feed = d.unconsumed_tail
            if not feed:
                raise WarcError(f"truncated gzip member at byte {pos}")
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - defensive against zlib quirks
            raise WarcError(f"gzip member at byte {pos} consumed nothing")
        pos += consumed
    return out.getvalue()


def _hdr(raw: bytes) -> str:
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"


def _is_zstd(data: bytes) -> bool:
    # standard frame, or a leading skippable frame (0x184D2A50-5F — the
    # .warc.zst dictionary convention stores the dict in one)
    return data[:4] == _ZSTD_MAGIC or (
        len(data) >= 4
        and data[1:4] == b"\x2a\x4d\x18"
        and 0x50 <= data[0] <= 0x5F
    )


def parse_warc(data: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield ``(headers, payload)`` per record. Accepts plain WARC bytes,
    a (multi-member) gzip stream, or a (multi-frame) zstd stream
    (``.warc.zst`` — newer Common Crawl drops; skippable dictionary
    frames are skipped by the decoder). Header names keep their original
    case as keys; lookups by exact spec names (``WARC-Type``,
    ``WARC-Target-URI``, ``Content-Length``) are the contract."""
    if data[:2] == b"\x1f\x8b":
        data = _gunzip_members(data)
    elif _is_zstd(data):
        from bravo_spark.codecs import fastpath
        from bravo_spark.codecs import zstd as pz

        cap = _inflate_cap(len(data))
        # Header-only pre-check BEFORE any decode work: walk the frame
        # sequence (a .warc.zst is multi-frame by design — one per
        # record) and sum the declared content sizes — this refuses
        # declared-size bombs for free and validates the frame framing
        # itself. Frames that omit the content-size field are covered
        # by the decoder's own bound, enforced DURING the decode (per
        # read), never post-hoc.
        pos, declared = 0, 0
        try:
            while pos < len(data):
                _, clen, csize = pz.inspect_frame(data, pos)
                pos += clen
                declared += csize or 0
        except pz.ZstdError as exc:
            raise WarcError(f"bad zstd stream: {exc}") from exc
        if declared > cap:
            raise WarcError(
                f"archive declares {declared} decompressed bytes, past "
                f"{cap} ({_MAX_INFLATE_RATIO}x its compressed size) — "
                "decompression bomb")
        try:
            data = fastpath.zstd_decompress_stream(data, max_bytes=cap)
        except ValueError as exc:
            raise WarcError(f"bad zstd stream: {exc}") from exc
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate (and require at most) blank space between records
        while data[pos:pos + 2] == _CRLF:
            pos += 2
        if pos >= n:
            break
        eol = data.find(_CRLF, pos)
        if eol < 0:
            raise WarcError(f"no version line terminator at byte {pos}")
        version = data[pos:eol]
        if version not in _VERSIONS:
            raise WarcError(
                f"bad WARC version line at byte {pos}: {version[:20]!r}"
            )
        pos = eol + 2
        headers: dict[str, str] = {}
        while True:
            eol = data.find(_CRLF, pos)
            if eol < 0:
                raise WarcError(f"unterminated header block at byte {pos}")
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break  # blank line: payload follows
            if b":" not in line:
                raise WarcError(f"header without ':' at byte {pos}: {line!r}")
            k, v = line.split(b":", 1)
            # UTF-8 per warc-1.1; older crawls carry latin-1 bytes in
            # URIs — fall back losslessly rather than refuse the record
            headers[_hdr(k)] = _hdr(v.strip())
        try:
            clen = int(headers["Content-Length"])
        except KeyError:
            raise WarcError(f"record at byte {pos} missing Content-Length")
        except ValueError:
            raise WarcError(
                f"non-integer Content-Length at byte {pos}:"
                f" {headers['Content-Length']!r}"
            )
        if clen < 0:
            # a negative length would rewind the cursor and re-parse
            # payload bytes as top-level records (nested WARC content is
            # real — revisit/WAT records) — refuse loudly
            raise WarcError(f"negative Content-Length {clen} at byte {pos}")
        if pos + clen > n:
            raise WarcError(
                f"payload truncated at byte {pos}: need {clen},"
                f" have {n - pos}"
            )
        payload = data[pos:pos + clen]
        pos += clen
        if data[pos:pos + 4] != _CRLF + _CRLF:
            raise WarcError(
                f"missing record terminator CRLFCRLF at byte {pos}"
            )
        pos += 4
        yield headers, payload


def write_warc(
    records: Iterable[tuple[dict[str, str], bytes]],
    *,
    gzip_per_record: bool = True,
    compression: str | None = None,
) -> bytes:
    """Serialize ``(headers, payload)`` pairs. ``Content-Length`` is
    computed here (a caller-supplied value is ignored — the frame must
    be self-consistent). ``compression`` is ``"gzip"`` (default via the
    legacy ``gzip_per_record`` flag), ``"zstd"`` (one frame per record —
    the ``.warc.zst`` layout), or ``"none"``; one member/frame per
    record keeps archives splittable. gzip members pin mtime/OS to zero
    so output is byte-deterministic."""
    if compression is None:
        compression = "gzip" if gzip_per_record else "none"
    if compression not in ("gzip", "zstd", "none"):
        raise WarcError(f"unsupported WARC compression {compression!r}")
    out = io.BytesIO()
    for headers, payload in records:
        rec = io.BytesIO()
        rec.write(b"WARC/1.0" + _CRLF)
        for k, v in headers.items():
            if k.lower() == "content-length":
                continue
            # header injection guard: a CR/LF inside a crawl-influenced
            # value (URIs!) or a ':' in a name would misframe the record
            # our own strict parser then rejects — refuse at write time
            if any(c in k for c in ":\r\n"):
                raise WarcError(f"illegal WARC header name {k!r}")
            if "\r" in str(v) or "\n" in str(v):
                raise WarcError(
                    f"CR/LF in WARC header value for {k}: {v!r}"
                )
            rec.write(f"{k}: {v}".encode("utf-8") + _CRLF)
        rec.write(f"Content-Length: {len(payload)}".encode() + _CRLF)
        rec.write(_CRLF)
        rec.write(payload)
        rec.write(_CRLF + _CRLF)
        raw = rec.getvalue()
        if compression == "gzip":
            co = zlib.compressobj(9, zlib.DEFLATED, 31)
            out.write(co.compress(raw) + co.flush())
        elif compression == "zstd":
            from bravo_spark.codecs import fastpath

            out.write(fastpath.zstd_compress(raw))
        else:
            out.write(raw)
    return out.getvalue()
