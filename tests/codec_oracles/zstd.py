"""Pure-Python Zstandard frame decoder (RFC 8878), the reference the
native zstd path is tested against.

Scope: single-segment and windowed frames, raw/RLE/compressed blocks,
Huffman literals (direct + FSE-compressed weights, 1- and 4-stream),
treeless repeats, all three sequence-table modes plus repeat, repeat-offset
history, skippable frames, XXH64 content checksums. Dictionaries are
rejected by ID. Cross-validated in tests against pyarrow's libzstd on
adversarial payloads and against zstd SSTs written by ``rocksdbjni``.
"""

from __future__ import annotations

import struct

from bravo_spark.codecs.xxh import xxh64 as _xxh64
from bravo_spark.codecs.zstd import (  # noqa: F401  (re-exported for tests)
    SKIPPABLE_MAGIC_MAX,
    SKIPPABLE_MAGIC_MIN,
    ZSTD_MAGIC,
    ZstdBoundError,
    ZstdError,
    inspect_frame,
)


# ---------------------------------------------------------------------------
# bitstreams


class _BackBits:
    """zstd backward bitstream: bytes form a little-endian container whose
    highest set bit (in the last byte) is a padding sentinel; reading
    proceeds from just below the sentinel toward bit 0. Reads past the
    start zero-fill (FSE flush semantics); ``overflowed`` reports it."""

    __slots__ = ("val", "pos", "total")

    def __init__(self, data: bytes):
        if not data or data[-1] == 0:
            raise ZstdError("backward bitstream missing padding sentinel")
        self.val = int.from_bytes(data, "little")
        sentinel = data[-1].bit_length() - 1
        self.total = (len(data) - 1) * 8 + sentinel
        self.pos = self.total  # bits remaining below the cursor

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        self.pos -= n
        if self.pos >= 0:
            return (self.val >> self.pos) & ((1 << n) - 1)
        # zero-fill past the start
        return (self.val << (-self.pos)) & ((1 << n) - 1)

    @property
    def overflowed(self) -> bool:
        return self.pos < 0

    @property
    def exhausted(self) -> bool:
        return self.pos == 0


class _FwdBits:
    """Forward LSB-first bit reader (FSE table descriptions)."""

    __slots__ = ("data", "bitpos")

    def __init__(self, data: bytes):
        self.data = data
        self.bitpos = 0

    def read(self, n: int) -> int:
        end = self.bitpos + n
        byte0 = self.bitpos >> 3
        byte1 = (end + 7) >> 3
        chunk = int.from_bytes(self.data[byte0:byte1], "little")
        out = (chunk >> (self.bitpos & 7)) & ((1 << n) - 1)
        self.bitpos = end
        return out

    def bytes_consumed(self) -> int:
        return (self.bitpos + 7) >> 3


# ---------------------------------------------------------------------------
# FSE


def read_fse_distribution(
    data: bytes, max_accuracy: int
) -> tuple[int, list[int], int]:
    """Parse an FSE table description (RFC 8878 §4.1.1): returns
    (accuracy_log, normalized counts with -1 for less-than-one, bytes
    consumed)."""
    bits = _FwdBits(data)
    accuracy = bits.read(4) + 5
    if accuracy > max_accuracy:
        raise ZstdError(f"FSE accuracy {accuracy} > max {max_accuracy}")
    remaining = (1 << accuracy) + 1
    counts: list[int] = []
    prev_zero = False
    while remaining > 1:
        if prev_zero:
            rep = bits.read(2)
            counts.extend([0] * rep)
            if rep == 3:
                continue
            prev_zero = False
            continue
        threshold = 1 << (remaining.bit_length() - 1)
        # values below `small` fit in one less bit
        small = (2 * threshold - 1) - remaining
        v = bits.read(threshold.bit_length() - 1)
        if v < small:
            count = v
        else:
            extra = bits.read(1)
            v |= extra << (threshold.bit_length() - 1)
            count = v if v < threshold else v - small
        proba = count - 1  # -1 encodes "less than one"
        remaining -= -proba if proba < 0 else proba
        counts.append(proba)
        if proba == 0:
            prev_zero = True
        if len(counts) > 256:
            raise ZstdError("FSE distribution too long")
    if remaining != 1:
        raise ZstdError("FSE distribution does not sum to table size")
    return accuracy, counts, bits.bytes_consumed()


def build_fse_table(
    accuracy: int, counts: list[int]
) -> list[tuple[int, int, int]]:
    """Decode table: cell -> (symbol, nb_bits, new_state_base). Standard
    spread (step = 5/8·size + 3) with less-than-one symbols pinned to the
    table tail."""
    size = 1 << accuracy
    table_syms = [0] * size
    high = size - 1
    for sym, c in enumerate(counts):
        if c == -1:
            table_syms[high] = sym
            high -= 1
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    pos = 0
    for sym, c in enumerate(counts):
        for _ in range(max(c, 0)):
            table_syms[pos] = sym
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ZstdError("FSE spread did not return to origin")
    nxt = [1 if c == -1 else c for c in counts]
    table = []
    for cell in range(size):
        sym = table_syms[cell]
        state = nxt[sym]
        nxt[sym] += 1
        nb = accuracy - (state.bit_length() - 1)
        table.append((sym, nb, (state << nb) - size))
    return table


def _rle_table(symbol: int) -> list[tuple[int, int, int]]:
    return [(symbol, 0, 0)]


class _FseState:
    __slots__ = ("table", "accuracy", "state")

    def __init__(self, table, accuracy, bits: _BackBits):
        self.table = table
        self.accuracy = accuracy
        self.state = bits.read(accuracy)

    @property
    def symbol(self) -> int:
        return self.table[self.state][0]

    def update(self, bits: _BackBits) -> None:
        _, nb, base = self.table[self.state]
        self.state = base + bits.read(nb)


# ---------------------------------------------------------------------------
# Huffman


def _decode_fse_weights(data: bytes) -> list[int]:
    """Weights compressed as an interleaved 2-state FSE stream (max
    accuracy 6); the description is at the front, the bitstream backward."""
    accuracy, counts, consumed = read_fse_distribution(data, 6)
    table = build_fse_table(accuracy, counts)
    bits = _BackBits(data[consumed:])
    s1 = _FseState(table, accuracy, bits)
    s2 = _FseState(table, accuracy, bits)
    weights: list[int] = []
    while True:
        weights.append(s1.symbol)
        s1.update(bits)
        if bits.overflowed:
            weights.append(s2.symbol)
            break
        weights.append(s2.symbol)
        s2.update(bits)
        if bits.overflowed:
            weights.append(s1.symbol)
            break
        if len(weights) > 255:
            raise ZstdError("more than 255 Huffman weights")
    return weights


def read_huffman_table(data: bytes) -> tuple[list[tuple[int, int]], int, int]:
    """Parse a Huffman tree description. Returns (decode table indexed by
    the top ``max_bits`` of the stream -> (symbol, nb_bits), max_bits,
    bytes consumed)."""
    if not data:
        raise ZstdError("empty Huffman description")
    hb = data[0]
    if hb < 128:
        weights = _decode_fse_weights(data[1 : 1 + hb])
        consumed = 1 + hb
    else:
        n = hb - 127
        nbytes = (n + 1) >> 1
        packed = data[1 : 1 + nbytes]
        if len(packed) < nbytes:
            raise ZstdError("truncated Huffman weights")
        weights = []
        for i in range(n):
            b = packed[i >> 1]
            weights.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        consumed = 1 + nbytes
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ZstdError("Huffman weights all zero")
    # the implicit last symbol completes the weight sum to the next power
    # of two; smallest max_bits with 2^max_bits > total (an exactly-power-
    # of-two explicit sum is legal — the last symbol then carries half the
    # total)
    max_bits = total.bit_length()
    rest = (1 << max_bits) - total
    if rest & (rest - 1):
        raise ZstdError("invalid Huffman weight sum")
    weights.append(rest.bit_length())  # implicit last weight
    if max(weights) > 11:
        raise ZstdError("Huffman code length > 11")
    # canonical fill: lowest weight first, natural symbol order within a
    # weight; symbol of weight w spans 2^(w-1) cells, nb_bits = max+1-w
    table: list[tuple[int, int]] = [(0, 0)] * (1 << max_bits)
    pos = 0
    for w in range(1, max_bits + 1):
        for sym, sw in enumerate(weights):
            if sw != w:
                continue
            span = 1 << (w - 1)
            table[pos : pos + span] = [(sym, max_bits + 1 - w)] * span
            pos += span
    if pos != len(table):
        raise ZstdError("Huffman table fill mismatch")
    return table, max_bits, consumed


def _huffman_stream(
    data: bytes, table, max_bits: int, count: int
) -> bytearray:
    bits = _BackBits(data)
    out = bytearray()
    val, pos = bits.val, bits.pos
    mask = (1 << max_bits) - 1
    for _ in range(count):
        if pos >= max_bits:
            idx = (val >> (pos - max_bits)) & mask
        else:
            idx = (val << (max_bits - pos)) & mask if pos > 0 else 0
        sym, nb = table[idx]
        pos -= nb
        out.append(sym)
    if pos != 0:
        raise ZstdError("Huffman stream not fully consumed")
    return out


# ---------------------------------------------------------------------------
# sequence code tables (RFC 8878 §3.1.1.3.2.1)

_LL_BASE_BITS = [(i, 0) for i in range(16)] + [
    (16, 1), (18, 1), (20, 1), (22, 1), (24, 2), (28, 2), (32, 3), (40, 3),
    (48, 4), (64, 6), (128, 7), (256, 8), (512, 9), (1024, 10), (2048, 11),
    (4096, 12), (8192, 13), (16384, 14), (32768, 15), (65536, 16),
]
_ML_BASE_BITS = [(i + 3, 0) for i in range(32)] + [
    (35, 1), (37, 1), (39, 1), (41, 1), (43, 2), (47, 2), (51, 3), (59, 3),
    (67, 4), (83, 4), (99, 5), (131, 7), (259, 8), (515, 9), (1027, 10),
    (2051, 11), (4099, 12), (8195, 13), (16387, 14), (32771, 15),
    (65539, 16),
]

_LL_DEFAULT = (6, [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2,
                   2, 2, 2, 2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1])
_ML_DEFAULT = (6, [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                   1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                   1, 1, 1, 1, 1, 1, 1, 1, -1, -1, -1, -1, -1, -1, -1])
_OF_DEFAULT = (5, [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
                   1, 1, 1, 1, 1, -1, -1, -1, -1, -1])

_MAX_ACCURACY = {"ll": 9, "of": 8, "ml": 9}
_DEFAULTS = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}
_MAX_SYMBOL = {"ll": 35, "of": 31, "ml": 52}


# ---------------------------------------------------------------------------
# frame decoding


class _FrameState:
    """Entropy state carried across blocks of one frame."""

    def __init__(self):
        self.huffman = None  # (table, max_bits)
        self.fse = {"ll": None, "of": None, "ml": None}  # (table, accuracy)
        self.reps = [1, 4, 8]


def _decode_literals(block: bytes, fstate: _FrameState) -> tuple[bytes, int]:
    """Returns (literals, bytes consumed from block)."""
    b0 = block[0]
    ltype = b0 & 3
    sf = (b0 >> 2) & 3
    if ltype in (0, 1):  # Raw / RLE
        if sf in (0, 2):
            regen, hdr = b0 >> 3, 1
        elif sf == 1:
            regen, hdr = (b0 >> 4) | (block[1] << 4), 2
        else:
            regen = (b0 >> 4) | (block[1] << 4) | (block[2] << 12)
            hdr = 3
        if ltype == 0:
            return bytes(block[hdr : hdr + regen]), hdr + regen
        return bytes([block[hdr]]) * regen, hdr + 1
    # Compressed / Treeless
    if sf == 0:
        h = int.from_bytes(block[:3], "little")
        regen, comp, hdr, streams = (h >> 4) & 0x3FF, (h >> 14) & 0x3FF, 3, 1
    elif sf == 1:
        h = int.from_bytes(block[:3], "little")
        regen, comp, hdr, streams = (h >> 4) & 0x3FF, (h >> 14) & 0x3FF, 3, 4
    elif sf == 2:
        h = int.from_bytes(block[:4], "little")
        regen, comp, hdr, streams = (
            (h >> 4) & 0x3FFF, (h >> 18) & 0x3FFF, 4, 4)
    else:
        h = int.from_bytes(block[:5], "little")
        regen, comp, hdr, streams = (
            (h >> 4) & 0x3FFFF, (h >> 22) & 0x3FFFF, 5, 4)
    payload = block[hdr : hdr + comp]
    if len(payload) < comp:
        raise ZstdError("truncated literals section")
    if ltype == 2:
        table, max_bits, used = read_huffman_table(payload)
        fstate.huffman = (table, max_bits)
        payload = payload[used:]
    else:
        if fstate.huffman is None:
            raise ZstdError("treeless literals with no previous Huffman table")
        table, max_bits = fstate.huffman
    if streams == 1:
        out = _huffman_stream(payload, table, max_bits, regen)
    else:
        if len(payload) < 6:
            raise ZstdError("truncated 4-stream jump table")
        s1, s2, s3 = struct.unpack("<HHH", payload[:6])
        body = payload[6:]
        if s1 + s2 + s3 > len(body):
            raise ZstdError("jump table exceeds literals payload")
        per = (regen + 3) >> 2
        last = regen - 3 * per
        if last < 0:
            raise ZstdError("invalid 4-stream regenerated size")
        bounds = [0, s1, s1 + s2, s1 + s2 + s3, len(body)]
        out = bytearray()
        for i in range(4):
            seg = body[bounds[i] : bounds[i + 1]]
            out += _huffman_stream(
                seg, table, max_bits, per if i < 3 else last)
    if len(out) != regen:
        raise ZstdError("literals regenerated size mismatch")
    return bytes(out), hdr + comp


def _sequence_table(block, pos, kind, fstate, mode):
    if mode == 0:
        acc, counts = _DEFAULTS[kind]
        fstate.fse[kind] = (build_fse_table(acc, counts), acc)
        return pos
    if mode == 1:
        sym = block[pos]
        if sym > _MAX_SYMBOL[kind]:
            raise ZstdError(f"{kind} RLE symbol {sym} out of range")
        fstate.fse[kind] = (_rle_table(sym), 0)
        return pos + 1
    if mode == 2:
        acc, counts, used = read_fse_distribution(
            block[pos:], _MAX_ACCURACY[kind])
        if len(counts) - 1 > _MAX_SYMBOL[kind]:
            raise ZstdError(f"{kind} FSE table has too many symbols")
        fstate.fse[kind] = (build_fse_table(acc, counts), acc)
        return pos + used
    if fstate.fse[kind] is None:
        raise ZstdError(f"{kind} repeat mode with no previous table")
    return pos


def _decode_block(
    block: bytes,
    out: bytearray,
    fstate: _FrameState,
    limit: int | None = None,
) -> None:
    """Decode one compressed block into ``out``. ``limit`` bounds the
    TOTAL length of ``out``: match copies are the bomb amplifier (one
    block may carry ~97k sequences × ~128 KiB match length — gigabytes
    from a few KiB of input), so the check runs inside the sequence
    loop, refusing before the output materializes past the ceiling."""
    literals, pos = _decode_literals(block, fstate)
    if limit is not None and len(out) + len(literals) > limit:
        raise ZstdBoundError(f"decoded output exceeds {limit}-byte bound")
    # --- sequences section header
    b0 = block[pos]
    if b0 == 0:
        if pos + 1 != len(block):
            raise ZstdError("trailing bytes after empty sequences section")
        out += literals
        return
    if b0 < 128:
        nseq, pos = b0, pos + 1
    elif b0 < 255:
        nseq, pos = ((b0 - 128) << 8) | block[pos + 1], pos + 2
    else:
        # RFC 8878 §3.1.1.3.2.1: byte0==255 → nseq = byte1 + (byte2<<8) + 0x7F00
        # (addition, NOT bitwise OR — the 16-bit value may overlap 0x7F00).
        nseq = block[pos + 1] + (block[pos + 2] << 8) + 0x7F00
        pos += 3
    scm = block[pos]
    pos += 1
    if scm & 3:
        raise ZstdError("reserved sequence-compression-mode bits set")
    for kind, mode in (
        ("ll", scm >> 6), ("of", (scm >> 4) & 3), ("ml", (scm >> 2) & 3)):
        pos = _sequence_table(block, pos, kind, fstate, mode)
    bits = _BackBits(block[pos:])
    ll_t, ll_acc = fstate.fse["ll"]
    of_t, of_acc = fstate.fse["of"]
    ml_t, ml_acc = fstate.fse["ml"]
    st_ll = _FseState(ll_t, ll_acc, bits)
    st_of = _FseState(of_t, of_acc, bits)
    st_ml = _FseState(ml_t, ml_acc, bits)
    if bits.overflowed:
        raise ZstdError("sequence bitstream too short for initial states")
    reps = fstate.reps
    lit_pos = 0
    for i in range(nseq):
        of_code = st_of.symbol
        if of_code > 31:
            raise ZstdError("offset code out of range")
        offset_value = (1 << of_code) + bits.read(of_code)
        ml_base, ml_bits = _ML_BASE_BITS[st_ml.symbol]
        ml = ml_base + bits.read(ml_bits)
        ll_base, ll_bits = _LL_BASE_BITS[st_ll.symbol]
        ll = ll_base + bits.read(ll_bits)
        if i + 1 < nseq:
            st_ll.update(bits)
            st_ml.update(bits)
            st_of.update(bits)
        # repeat-offset resolution
        if offset_value > 3:
            offset = offset_value - 3
            reps[2] = reps[1]
            reps[1] = reps[0]
            reps[0] = offset
        else:
            idx = offset_value + (1 if ll == 0 else 0)
            if idx == 1:
                offset = reps[0]
            elif idx == 2:
                offset = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            elif idx == 3:
                offset = reps[2]
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
            else:
                offset = reps[0] - 1
                if offset == 0:
                    raise ZstdError("repeat offset underflow")
                reps[2] = reps[1]
                reps[1] = reps[0]
                reps[0] = offset
        # execute
        if lit_pos + ll > len(literals):
            raise ZstdError("sequence literal length exceeds literals")
        out += literals[lit_pos : lit_pos + ll]
        lit_pos += ll
        if offset > len(out):
            raise ZstdError("match offset beyond decoded output")
        if limit is not None and len(out) + ml > limit:
            raise ZstdBoundError(f"decoded output exceeds {limit}-byte bound")
        if offset >= ml:
            start = len(out) - offset
            out += out[start : start + ml]
        else:
            start = len(out) - offset
            for k in range(ml):  # overlapping copy
                out.append(out[start + k])
    if bits.pos != 0:
        raise ZstdError("sequence bitstream not fully consumed")
    out += literals[lit_pos:]



def decompress(
    data: bytes,
    *,
    verify_checksum: bool = True,
    max_bytes: int | None = None,
) -> bytes:
    """Decode all zstd frames in ``data`` (skippable frames skipped) and
    return the concatenated content.

    ``max_bytes`` bounds the TOTAL decoded output — checked after every
    block (raw/RLE/compressed) and, inside compressed blocks, after
    every sequence's match copy, so a bomb frame that omits the
    Frame_Content_Size header field (normal streaming-compressor
    output, invisible to declared-size pre-checks) refuses BEFORE
    materializing past the ceiling, never after."""
    out = bytearray()
    pos = 0
    n = len(data)
    while pos < n:
        if n - pos < 4:
            raise ZstdError("truncated frame magic")
        (magic,) = struct.unpack_from("<I", data, pos)
        pos += 4
        if SKIPPABLE_MAGIC_MIN <= magic <= SKIPPABLE_MAGIC_MAX:
            (sz,) = struct.unpack_from("<I", data, pos)
            pos += 4 + sz
            continue
        if magic != ZSTD_MAGIC:
            raise ZstdError(f"bad zstd magic 0x{magic:08x}")
        fhd = data[pos]
        pos += 1
        fcs_flag = fhd >> 6
        single_segment = (fhd >> 5) & 1
        checksum_flag = (fhd >> 2) & 1
        did_flag = fhd & 3
        if fhd & 0x08:
            raise ZstdError("reserved frame-header bit set")
        if not single_segment:
            pos += 1  # window descriptor (we buffer whole frames anyway)
        did_size = (0, 1, 2, 4)[did_flag]
        if did_size:
            did = int.from_bytes(data[pos : pos + did_size], "little")
            pos += did_size
            if did:
                raise ZstdError(
                    f"frame requires dictionary {did}: dictionaries are "
                    "not supported (RocksDB emits them only with an "
                    "explicit compression dict)")
        fcs_size = (1 if single_segment else 0, 2, 4, 8)[fcs_flag]
        content_size = None
        if fcs_size:
            content_size = int.from_bytes(data[pos : pos + fcs_size], "little")
            if fcs_size == 2:
                content_size += 256
            pos += fcs_size
        fstate = _FrameState()
        frame_start = len(out)
        while True:
            bh = int.from_bytes(data[pos : pos + 3], "little")
            pos += 3
            last, btype, bsize = bh & 1, (bh >> 1) & 3, bh >> 3
            if btype == 0:
                out += data[pos : pos + bsize]
                pos += bsize
            elif btype == 1:
                out += data[pos : pos + 1] * bsize
                pos += 1
            elif btype == 2:
                _decode_block(data[pos : pos + bsize], out, fstate,
                              max_bytes)
                pos += bsize
            else:
                raise ZstdError("reserved block type")
            if max_bytes is not None and len(out) > max_bytes:
                raise ZstdBoundError(
                    f"decoded output exceeds {max_bytes}-byte bound")
            if last:
                break
        if content_size is not None and len(out) - frame_start != content_size:
            raise ZstdError(
                f"frame content size {content_size} != decoded "
                f"{len(out) - frame_start}")
        if checksum_flag:
            (stored,) = struct.unpack_from("<I", data, pos)
            pos += 4
            if verify_checksum:
                actual = _xxh64(bytes(out[frame_start:])) & 0xFFFFFFFF
                if stored != actual:
                    raise ZstdError("content checksum mismatch")
    return bytes(out)
