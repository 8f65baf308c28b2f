"""Pure-Python raw LZ4 block codec (lz4_Block_format.md), the reference
the native lz4 path is tested against. ``compress_block`` is a greedy
single-candidate encoder: spec-valid output any LZ4 decoder accepts,
tuned for correctness, not ratio."""

from __future__ import annotations

# spec end-of-block rules (lz4_Block_format.md): the last 5 bytes are
# always literals, and the last match must start >= 12 bytes before the
# end of the block — inputs shorter than 13 bytes are literal-only.
_MFLIMIT = 12
_LAST_LITERALS = 5
_MAX_OFFSET = 0xFFFF


def _ext_len(out: bytearray, v: int) -> None:
    # extended length: the token nibble holds 15, then 255-bytes + final
    rem = v - 15
    while rem >= 255:
        out.append(255)
        rem -= 255
    out.append(rem)


def _emit(
    out: bytearray,
    literals: bytes | memoryview,
    offset: int | None = None,
    mlen: int = 0,
) -> None:
    lit = len(literals)
    tok_lit = 15 if lit >= 15 else lit
    if offset is None:  # final sequence: literals only, no match part
        out.append(tok_lit << 4)
        if lit >= 15:
            _ext_len(out, lit)
        out += literals
        return
    m = mlen - 4  # minmatch is 4, encoded as 0
    tok_m = 15 if m >= 15 else m
    out.append((tok_lit << 4) | tok_m)
    if lit >= 15:
        _ext_len(out, lit)
    out += literals
    out.append(offset & 0xFF)
    out.append(offset >> 8)
    if m >= 15:
        _ext_len(out, m)


def compress_block(src: bytes) -> bytes:
    """Encode ``src`` as one raw LZ4 block (greedy, 4-byte hash matches)."""
    n = len(src)
    out = bytearray()
    if n < 13:
        _emit(out, src)
        return bytes(out)
    table: dict[bytes, int] = {}
    anchor = 0
    i = 0
    match_limit = n - _MFLIMIT
    end_limit = n - _LAST_LITERALS
    while i <= match_limit:
        key = src[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > _MAX_OFFSET or src[cand : cand + 4] != key:
            i += 1
            continue
        mlen = 4
        cap = end_limit - i
        while mlen < cap and src[cand + mlen] == src[i + mlen]:
            mlen += 1
        _emit(out, src[anchor:i], i - cand, mlen)
        i += mlen
        anchor = i
    _emit(out, src[anchor:])
    return bytes(out)



def decompress_block(src: bytes, dlen: int) -> bytes:
    """Decode one raw LZ4 block to exactly ``dlen`` bytes."""
    dst = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit = token >> 4
        if lit == 15:
            while True:
                b = src[i]
                i += 1
                lit += b
                if b != 255:
                    break
        dst += src[i : i + lit]
        i += lit
        if i >= n:
            break  # last sequence: literals only
        off = src[i] | (src[i + 1] << 8)
        i += 2
        ml = token & 0xF
        if ml == 15:
            while True:
                b = src[i]
                i += 1
                ml += b
                if b != 255:
                    break
        ml += 4
        start = len(dst) - off
        if start < 0:
            raise ValueError("corrupt LZ4 block: offset before start")
        for k in range(ml):  # may overlap — must copy byte-wise
            dst.append(dst[start + k])
    if len(dst) != dlen:
        raise ValueError(f"LZ4 block decoded {len(dst)} bytes, expected {dlen}")
    return bytes(dst)
