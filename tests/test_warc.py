"""WARC codec (codecs/warc.py): framing, gzip members, strictness.

The golden record is assembled by hand from the WARC-1.1 spec's framing
rules (version line, header block, blank line, Content-Length payload,
CRLFCRLF terminator) so the writer is pinned to the SPEC, not to itself.
"""

from __future__ import annotations

import gzip
import io
import zlib

import pytest

from bravo_spark.codecs.warc import WarcError, parse_warc, write_warc


def _rec(uri: str, payload: bytes) -> tuple[dict, bytes]:
    return (
        {
            "WARC-Type": "conversion",
            "WARC-Target-URI": uri,
            "WARC-Date": "2026-01-01T00:00:00Z",
        },
        payload,
    )


def test_hand_assembled_spec_record_parses():
    payload = b"hello warc"
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: conversion\r\n"
        b"WARC-Target-URI: doc://7\r\n"
        b"Content-Length: 10\r\n"
        b"\r\n" + payload + b"\r\n\r\n"
    )
    [(h, p)] = list(parse_warc(raw))
    assert p == payload
    assert h["WARC-Type"] == "conversion"
    assert h["WARC-Target-URI"] == "doc://7"


def test_roundtrip_plain_and_gzip():
    recs = [
        _rec("doc://1", b"alpha"),
        _rec("doc://2", "café — bytes".encode("utf-8")),
        _rec("doc://3", b""),  # empty payload is legal
    ]
    for gz in (False, True):
        blob = write_warc(recs, gzip_per_record=gz)
        back = list(parse_warc(blob))
        assert [(h["WARC-Target-URI"], p) for h, p in back] == [
            (h["WARC-Target-URI"], p) for h, p in recs
        ]


def test_gzip_is_one_member_per_record_and_deterministic():
    recs = [_rec("doc://1", b"a"), _rec("doc://2", b"b")]
    blob = write_warc(recs)
    assert blob == write_warc(recs)  # byte-deterministic (mtime pinned)
    # two members: second gzip magic exists past the first member
    assert blob.count(b"\x1f\x8b\x08") == 2
    # stdlib gzip agrees on the concatenated-members content
    assert b"doc://2" in gzip.decompress(blob)


def test_payload_may_contain_crlfcrlf():
    tricky = b"x\r\n\r\nWARC/1.0\r\n-not-a-record"
    blob = write_warc([_rec("doc://9", tricky)], gzip_per_record=False)
    [(_, p)] = list(parse_warc(blob))
    assert p == tricky  # Content-Length framing, not delimiter scanning


def test_content_length_truncation_raises():
    raw = (
        b"WARC/1.0\r\nContent-Length: 100\r\n\r\nshort\r\n\r\n"
    )
    with pytest.raises(WarcError, match="truncated"):
        list(parse_warc(raw))


def test_missing_terminator_raises():
    raw = b"WARC/1.0\r\nContent-Length: 2\r\n\r\nab"  # no CRLFCRLF
    with pytest.raises(WarcError, match="terminator"):
        list(parse_warc(raw))


def test_bad_version_line_raises():
    with pytest.raises(WarcError, match="version"):
        list(parse_warc(b"HTTP/1.1 200 OK\r\n\r\n"))


def test_missing_content_length_raises():
    raw = b"WARC/1.0\r\nWARC-Type: conversion\r\n\r\nxx\r\n\r\n"
    with pytest.raises(WarcError, match="Content-Length"):
        list(parse_warc(raw))


def test_torn_gzip_member_raises():
    blob = write_warc([_rec("doc://1", b"abc" * 50)])
    with pytest.raises(WarcError, match="gzip"):
        list(parse_warc(blob[: len(blob) - 5]))


def test_writer_recomputes_content_length():
    # a lying caller-supplied Content-Length must be ignored
    blob = write_warc(
        [({"WARC-Type": "conversion", "Content-Length": "999"}, b"four")],
        gzip_per_record=False,
    )
    [(h, p)] = list(parse_warc(blob))
    assert p == b"four" and h["Content-Length"] == "4"


def test_multi_member_stream_with_stdlib_written_member():
    # interop: a member produced by the stdlib gzip module (mtime set,
    # different deflate level) parses the same
    rec_raw = write_warc([_rec("doc://5", b"stdlib member")],
                         gzip_per_record=False)
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", mtime=12345) as f:
        f.write(rec_raw)
    blob = write_warc([_rec("doc://6", b"ours")]) + buf.getvalue()
    uris = [h["WARC-Target-URI"] for h, _ in parse_warc(blob)]
    assert uris == ["doc://6", "doc://5"]


def test_negative_content_length_raises():
    raw = b"WARC/1.0\r\nContent-Length: -4\r\n\r\n\r\n\r\nextra"
    with pytest.raises(WarcError, match="negative Content-Length"):
        list(parse_warc(raw))


def test_header_injection_refused_at_write_time():
    # crawl URIs are attacker-influenced: CR/LF in a value would
    # misframe the record our own strict parser then rejects
    with pytest.raises(WarcError, match="CR/LF"):
        write_warc([({"WARC-Target-URI": "a\r\nX: y"}, b"p")])
    with pytest.raises(WarcError, match="header name"):
        write_warc([({"Bad:Name": "v"}, b"p")])


def test_latin1_header_bytes_parse_losslessly():
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Target-URI: http://x/\xe9\r\n"  # latin-1 e-acute
        b"Content-Length: 2\r\n\r\nok\r\n\r\n"
    )
    [(h, p)] = list(parse_warc(raw))
    assert h["WARC-Target-URI"].endswith("é") and p == b"ok"


def test_zstd_warc_roundtrip_one_frame_per_record():
    recs = [_rec("doc://1", b"alpha" * 20), _rec("doc://2", b"beta")]
    blob = write_warc(recs, compression="zstd")
    assert blob[:4] == b"\x28\xb5\x2f\xfd"
    assert blob.count(b"\x28\xb5\x2f\xfd") >= 2  # one frame per record
    back = list(parse_warc(blob))
    assert [(h["WARC-Target-URI"], p) for h, p in back] == [
        (h["WARC-Target-URI"], p) for h, p in recs
    ]
    # pure RFC 8878 decoder agrees on the same bytes
    from codec_oracles import zstd as pz

    assert b"doc://2" in pz.decompress(blob)


def test_zstd_warc_truncation_raises():
    blob = write_warc([_rec("doc://1", b"x" * 500)], compression="zstd")
    with pytest.raises(WarcError, match="zstd"):
        list(parse_warc(blob[:-9]))


def test_unknown_compression_refused_by_name():
    with pytest.raises(WarcError, match="lz77"):
        write_warc([_rec("doc://1", b"x")], compression="lz77")


def test_gzip_bomb_archive_refused():
    """A tiny .warc.gz inflating past 512x its compressed size (64 MiB
    floor) must refuse by name, never OOM the parsing task — crawl
    archives are untrusted bytes by definition."""
    import gzip as _gzip

    bomb = _gzip.compress(b"\x00" * (70 << 20))  # ~70 KiB -> 70 MiB
    with pytest.raises(WarcError, match="decompression bomb"):
        list(parse_warc(bomb))


def test_zstd_bomb_archive_refused():
    """libzstd declares the content size, so the header-only pre-check
    refuses BEFORE any decode work; match the bomb-specific text so a
    regression that drops the guard can't hide behind an unrelated
    decode error."""
    from bravo_spark.codecs import fastpath

    bomb = fastpath.zstd_compress(b"\x00" * (70 << 20))
    with pytest.raises(WarcError, match="decompression bomb"):
        list(parse_warc(bomb))
