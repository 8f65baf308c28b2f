"""HTTP/1.1 response-message parsing for WARC ``response`` records.

Real Common Crawl ``.warc.gz`` is mostly ``WARC-Type: response`` records
whose payload is the raw HTTP exchange the crawler captured — status
line, header fields, entity body (RFC 9112 message framing; public).
The WET ``conversion`` records the text pipeline consumes are DERIVED
from these, so this module is the missing link between raw crawl
archives and ``llmops.strip_markup``: split the head, resolve the body
framing, decode the entity to text. The bravo reference ships no HTTP
layer (it reads Flink state, not crawls); this belongs to the
training-data extension surface alongside ``codecs/warc.py``.

Framing (RFC 9112 §6): ``Transfer-Encoding: chunked`` wins over
``Content-Length`` — hex chunk-size lines with optional extensions,
a zero chunk, then optional trailer fields. A bare ``Content-Length``
must match the remaining payload EXACTLY: a crawler writes the bytes it
fetched, so a shortfall is a torn capture and surplus is misframing —
both refuse by name (``HttpError`` with the byte offset) rather than
silently yielding a truncated or padded body. Neither header → the body
is everything after the head (the connection-close captures).

Content-Encoding (RFC 9110 §8.4): crawlers store the entity AS FETCHED,
so captured bodies are frequently gzip- or deflate-compressed.
:func:`decode_entity` inflates ``gzip``/``x-gzip``, ``deflate``
(both the spec's zlib-wrapped form and the bare-DEFLATE form real
servers emit) and ``zstd`` (RFC 8878, via the repo's own decoder —
real Common Crawl captures carry it) with a hard output bound —
untrusted crawl bytes must never inflate unbounded — and refuses other
tokens (``br`` — no pure-Python brotli worth writing — multi-token
chains, …) BY NAME rather than decoding the compressed bytes as text.

Charset: the ``Content-Type`` ``charset`` parameter when it names a
codec Python knows, else UTF-8 (the crawl-pipeline fallback — an
unknown or absent charset must not drop the document); undecodable
bytes become U+FFFD. A crawl always contains mojibake, and the
deterministic replacement keeps downstream text oracle-replayable.

Header names are case-insensitive per RFC 9110 §5.1, so the parsed dict
keys are lowercased (unlike WARC headers, whose case the warc codec
preserves); duplicate fields join with ", " and obs-fold continuation
lines unfold to a single space (RFC 9112 §5.2).
"""

from __future__ import annotations

import codecs as _codecs
import re

_CRLF = b"\r\n"

# status version tolerates the dotless form real crawls hold ("HTTP/2
# 200" — a crawler that spoke h2 but wrote an h1-style head) alongside
# the RFC 9112 HTTP-version; the status code stays strict 3DIGIT
_STATUS_RE = re.compile(rb"^HTTP/\d(?:\.\d)? (\d{3})(?: |$)")
_CHARSET_RE = re.compile(r'charset\s*=\s*"?([^";\s]+)"?', re.IGNORECASE)
_CHUNK_SIZE_LINE_RE = re.compile(rb"^[0-9a-fA-F]+(?:[ \t]*(?:;|$))")
_HEX_DIGITS = set(b"0123456789abcdefABCDEF"[i:i + 1] for i in range(22))


class HttpError(ValueError):
    """Malformed HTTP/1.x message (bad status line, torn chunked
    framing, Content-Length disagreeing with the captured bytes)."""


def parse_http_response(payload: bytes) -> tuple[int, dict[str, str], bytes]:
    """``(status, headers, body)`` of one captured HTTP response.

    ``headers`` keys are lowercased; values are latin-1-decoded verbatim
    (header bytes are opaque octets per spec — the CHARSET decision
    belongs to the entity body, see :func:`decode_entity`).

    Head framing tolerates bare-LF line endings (real crawls hold
    captures from servers that never emitted the CR) — the terminator
    is whichever of CRLFCRLF / LFLF starts first, and each header line
    sheds at most one trailing CR, so a spec-correct head parses
    byte-identically to before."""
    sep = payload.find(_CRLF + _CRLF)
    seplen = 4
    # bound the bare-LF probe: only a LFLF starting before the CRLFCRLF
    # can win, so a spec-correct message never pays a full-body scan
    # (the entity is the bulk of every record on this hot path)
    sep_lf = payload.find(b"\n\n", 0,
                          sep + 2 if sep >= 0 else len(payload))
    if sep_lf >= 0 and (sep < 0 or sep_lf < sep):
        sep, seplen = sep_lf, 2
    if sep < 0:
        raise HttpError("no head terminator CRLFCRLF in HTTP message")
    head, rest = payload[:sep], payload[sep + seplen:]
    lines = [ln[:-1] if ln.endswith(b"\r") else ln
             for ln in head.split(b"\n")]
    m = _STATUS_RE.match(lines[0])
    if not m:
        raise HttpError(f"bad HTTP status line: {lines[0][:40]!r}")
    status = int(m.group(1))
    headers: dict[str, str] = {}
    cur: str | None = None
    for line in lines[1:]:
        if line[:1] in (b" ", b"\t"):
            # obs-fold: the continuation belongs to the previous field
            if cur is None:
                raise HttpError("continuation line before any header")
            headers[cur] += " " + line.strip().decode("latin-1")
            continue
        if b":" not in line:
            raise HttpError(f"HTTP header without ':': {line[:40]!r}")
        k, v = line.split(b":", 1)
        cur = k.strip().decode("latin-1").lower()
        val = v.strip().decode("latin-1")
        headers[cur] = headers[cur] + ", " + val if cur in headers else val

    te_tokens = [t.strip().lower()
                 for t in headers.get("transfer-encoding", "").split(",")
                 if t.strip()]
    unsupported = [t for t in te_tokens if t not in ("chunked", "identity")]
    if unsupported:
        # transfer-coded compression (gzip/compress/deflate as TRANSFER
        # codings) is not implemented — passing the still-coded bytes
        # through as document text would be wrong bytes, so refuse by
        # name instead
        raise HttpError(
            f"unsupported Transfer-Encoding {unsupported[0]!r}")
    if "chunked" in te_tokens:
        eol = rest.find(b"\n")
        first = rest[: eol if eol >= 0 else len(rest)].strip()
        # .strip() above mirrors dechunk's own size-field leniency: a
        # lenient server's '  4' size line must route to dechunk, not
        # slip through the quirk path as raw framing bytes
        if (not rest or _CHUNK_SIZE_LINE_RE.match(first)
                or first[:1] in _HEX_DIGITS):
            # the third arm: a first line that BEGINS with a hex digit
            # but is not a clean size line ('4q', '4 5') is far more
            # likely a chunk-framed stream with a corrupted size byte
            # than a pre-decoded body — route it to dechunk so it
            # refuses by name instead of passing framing bytes through
            # as document text. (Cost: a pre-decoded TEXT body that
            # happens to open with a bare hex digit — '4 out of 5 …' —
            # quarantines; strictness over silent wrong bytes.)
            body = dechunk(rest)
        else:
            # known real-crawl quirk: the crawler stored the
            # TRANSFER-DECODED body while retaining the
            # Transfer-Encoding header. The evidence is positional —
            # the very first line cannot be the START of a chunk-size
            # line, so the stream was never chunk-framed; anything that
            # could be chunk framing (incl. an EMPTY rest — torn at
            # byte 0) goes to dechunk, where a genuinely torn stream
            # still refuses by name. The retained Content-Length (if
            # any) described the coded stream and is not enforced here.
            body = rest
    elif "content-length" in headers:
        cl = headers["content-length"].strip()
        # strict digits only: Python's int() accepts '+10' and '1_0',
        # which RFC 9110's 1*DIGIT does not
        if not re.fullmatch(r"[0-9]+", cl):
            raise HttpError(f"non-integer Content-Length: {cl!r}")
        n = int(cl)
        if n > len(rest):
            raise HttpError(
                f"Content-Length {n} but only {len(rest)} captured body "
                "bytes — torn capture")
        if len(rest) > n:
            raise HttpError(
                f"{len(rest) - n} bytes of trailing junk after the "
                f"Content-Length {n} body")
        body = rest
    else:
        body = rest  # connection-close framing: read to capture end
    return status, headers, body


def dechunk(data: bytes) -> bytes:
    """Decode RFC 9112 §7.1 chunked transfer coding. Strict on the
    FRAMING — a torn chunk, bad size line, missing chunk-data
    terminator, torn trailer, or trailing junk after the final chunk
    refuses with the byte offset — but each line terminator may be
    CRLF or bare LF (the same CR-less-server tolerance the head parse
    carries: a capture whose head lacked CRs frames its chunks the
    same way; a spec-correct stream decodes byte-identically)."""

    def line_end(pos: int) -> tuple[int, int]:
        """(content_end, next_pos) of the line starting at ``pos``, or
        (-1, -1) when no terminator remains."""
        i = data.find(b"\n", pos)
        if i < 0:
            return -1, -1
        return (i - 1, i + 1) if data[i - 1:i] == b"\r" else (i, i + 1)

    out = bytearray()
    pos = 0
    n = len(data)
    while True:
        eol, nxt = line_end(pos)
        if eol < 0:
            raise HttpError(
                f"chunked framing torn at byte {pos}: no chunk-size line")
        size_field = data[pos:eol].split(b";", 1)[0].strip()
        # strict 1*HEXDIG (RFC 9112): Python's int(x, 16) accepts '-2',
        # '+f', and '1_0', any of which would silently re-frame the
        # stream instead of refusing it
        if not re.fullmatch(rb"[0-9a-fA-F]+", size_field):
            raise HttpError(
                f"bad chunk size at byte {pos}: {size_field[:20]!r}")
        size = int(size_field, 16)
        pos = nxt
        if size == 0:
            while True:  # optional trailer fields, then a bare line end
                eol, nxt = line_end(pos)
                if eol < 0:
                    raise HttpError(f"chunked trailer torn at byte {pos}")
                line = data[pos:eol]
                pos = nxt
                if not line:
                    break
            if pos != n:
                raise HttpError(
                    f"{n - pos} bytes of trailing junk after the final "
                    "chunk")
            return bytes(out)
        if pos + size > n:
            raise HttpError(
                f"chunk of {size} bytes torn at byte {pos}: only "
                f"{n - pos} captured")
        out += data[pos:pos + size]
        pos += size
        if data[pos:pos + 2] == _CRLF:
            pos += 2
        elif data[pos:pos + 1] == b"\n":
            pos += 1
        else:
            raise HttpError(f"missing CRLF after chunk data at byte {pos}")


# Entity decompression-bomb ceiling — the same posture as codecs/warc.py's
# archive cap: legitimate HTML inflates ~3-20x; 512x the compressed entity
# (floor 64 MiB) bounds an adversarial capture without refusing real pages.
_MAX_INFLATE_RATIO = 512
_MIN_INFLATE_CAP = 64 << 20


def _inflate_bounded(body: bytes, wbits: int) -> bytes:
    import zlib

    cap = max(len(body) * _MAX_INFLATE_RATIO, _MIN_INFLATE_CAP)
    d = zlib.decompressobj(wbits=wbits)
    try:
        out = d.decompress(body, cap + 1)
    except zlib.error as exc:
        raise HttpError(f"bad compressed entity: {exc}") from exc
    if len(out) > cap:
        raise HttpError(
            f"entity inflates past {cap} bytes ({_MAX_INFLATE_RATIO}x its "
            "compressed size) — decompression bomb")
    # trailing junk after the compressed stream is tolerated (crawl
    # captures routinely carry padding); a stream that never finished is
    # a torn capture
    if not d.eof:
        raise HttpError("compressed entity truncated — torn capture")
    return out


def decode_content_encoding(headers: dict[str, str], body: bytes) -> bytes:
    """Undo ``Content-Encoding`` on a captured entity: gzip/x-gzip,
    deflate (zlib-wrapped per spec, with the bare-DEFLATE fallback real
    servers emit) and zstd (RFC 8878 — genuine Common Crawl captures
    carry it) inflate OUTPUT-BOUNDED under the same 512x / 64 MiB
    ceiling; ``identity``/absent pass through; anything else (``br``,
    multi-token chains) refuses by name."""
    token = headers.get("content-encoding", "").strip().lower()
    if token in ("", "identity"):
        return body
    if token in ("gzip", "x-gzip"):
        return _inflate_bounded(body, 31)
    if token == "deflate":
        import zlib

        try:
            return _inflate_bounded(body, 15)   # spec: zlib-wrapped
        except HttpError as e:
            # retry as the bare-DEFLATE form ONLY when the zlib wrapper
            # failed to parse — a bomb or truncation refusal is final,
            # and retrying it would mask the named refusal behind a
            # generic corruption error
            if not isinstance(e.__cause__, zlib.error):
                raise
            return _inflate_bounded(body, -15)  # the wild: raw DEFLATE
    if token == "zstd":
        from bravo_spark.codecs import fastpath
        from bravo_spark.codecs.zstd import ZstdBoundError

        cap = max(len(body) * _MAX_INFLATE_RATIO, _MIN_INFLATE_CAP)
        try:
            # libzstd enforces the bound DURING the decode (per
            # read), so a bomb frame never materializes past the
            # ceiling, and raises it as a TYPE, so corruption can't
            # be mislabeled
            return fastpath.zstd_decompress_stream(body, max_bytes=cap)
        except ZstdBoundError as exc:
            raise HttpError(
                f"entity inflates past {cap} bytes "
                f"({_MAX_INFLATE_RATIO}x its compressed size) — "
                "decompression bomb") from exc
        except ValueError as exc:
            raise HttpError(f"bad compressed entity: {exc}") from exc
    raise HttpError(f"unsupported Content-Encoding {token!r}")


# HTML meta charset declarations, both forms, within the sniff window:
# <meta charset="..."> (HTML5) and
# <meta http-equiv="Content-Type" content="text/html; charset=..."> —
# matched on the raw BYTES (any ASCII-compatible encoding declares
# itself in ASCII; a UTF-16 page can't, which is why the window is a
# fallback, not an authority over the header).
_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?([A-Za-z0-9_][A-Za-z0-9._-]*)""",
    re.IGNORECASE,
)
_SNIFF_WINDOW = 1024  # what the WHATWG prescan reads


def charset_name(headers: dict[str, str], body: bytes = b"") -> str:
    """The normalized Python codec name the entity decodes with:
    the Content-Type charset parameter when Python knows it, else an
    HTML ``<meta charset>`` / http-equiv declaration in the first
    ``1024`` bytes of ``body`` (the WHATWG prescan window — real pages
    routinely declare their encoding only in markup), else utf-8.

    The meta prescan only applies in the context WHATWG defines it for:
    a Content-Type naming an html/xml media type, or no Content-Type at
    all. A text/plain or JSON body whose first bytes happen to contain
    a meta-charset-shaped string must not have its decode hijacked."""
    for token in _declared_charsets(headers, body):
        try:
            info = _codecs.lookup(token)
        except LookupError:
            continue  # crawl junk charset token → keep falling back
        # codecs.lookup also resolves NON-TEXT codecs (zlib, hex,
        # base64, rot13) — bytes.decode() then raises LookupError at
        # decode time, so a crafted charset token would kill the task
        # instead of falling back; only text encodings qualify
        if getattr(info, "_is_text_encoding", True):
            return info.name
    return "utf-8"


_MARKUP_CT_RE = re.compile(
    # text/html, application/xhtml+xml, text/xml, application/xml,
    # image/svg+xml, … — any html or xml media type (incl. +xml suffix)
    r"^\s*(?:[^;/\s]+)/(?:x?html|xml|[^;+\s]+\+xml)\s*(?:;|$)",
    re.IGNORECASE,
)


def _declared_charsets(headers: dict[str, str], body: bytes):
    ct = headers.get("content-type", "")
    m = _CHARSET_RE.search(ct)
    if m:
        yield m.group(1)
    if ct.strip() and not _MARKUP_CT_RE.match(ct):
        return  # non-markup media type: the meta prescan doesn't apply
    m2 = _META_CHARSET_RE.search(body[:_SNIFF_WINDOW])
    if m2:
        yield m2.group(1).decode("ascii")


def decode_entity(headers: dict[str, str], body: bytes) -> str:
    """Entity bytes → text: :func:`decode_content_encoding` first (the
    captured entity may be gzip/deflate as fetched), then
    :func:`charset_name` over the header AND the decompressed bytes'
    meta prescan; undecodable bytes become U+FFFD (deterministic —
    mojibake must not drop a document)."""
    raw = decode_content_encoding(headers, body)
    return raw.decode(charset_name(headers, raw), errors="replace")
