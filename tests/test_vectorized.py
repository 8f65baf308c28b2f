"""Vectorized codec fast path: bit-parity with the scalar codecs."""

from __future__ import annotations

import numpy as np
from hypothesis import given, strategies as st

from bravo_spark.codecs import flink as fc
from bravo_spark.codecs import vectorized as vz


@given(
    st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=50),
    st.sampled_from([128, 4096]),
)
def test_int_encode_parity(keys, maxp):
    fast = vz.encode_kv_fixed(keys, [0] * len(keys), fc.INT, fc.INT, maxp)
    for i, k in enumerate(keys):
        assert fast[0][i] == fc.encode_key_ns(k, fc.INT, maxp)


@given(
    st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=50)
)
def test_long_encode_parity(keys):
    fast = vz.encode_kv_fixed(keys, [0] * len(keys), fc.LONG, fc.LONG, 128)
    for i, k in enumerate(keys):
        assert fast[0][i] == fc.encode_key_ns(k, fc.LONG, 128)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**31), max_value=2**31 - 1),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
        ),
        min_size=1,
        max_size=50,
    ),
    st.booleans(),
)
def test_decode_roundtrip_with_ttl(pairs, ttl):
    keys = [p[0] for p in pairs]
    vals = [p[1] for p in pairs]
    kns = [fc.encode_key_ns(k, fc.INT, 128) for k in keys]
    ts = 99 if ttl else None
    raw = [fc.encode_value_state(v, fc.DOUBLE, ttl_ts=ts) for v in vals]
    dec = vz.decode_kv_fixed(kns, raw, fc.INT, fc.DOUBLE, 128, ttl=ttl)
    assert list(dec[0]) == keys
    assert list(dec[1]) == vals


def test_ragged_input_falls_back():
    # a string-keyed row mixed in -> lengths differ -> fast path declines
    kns = [fc.encode_key_ns(1, fc.INT, 128), fc.encode_key_ns("ab", fc.STRING, 128)]
    raw = [fc.encode_value_state(1, fc.INT)] * 2
    assert vz.decode_kv_fixed(kns, raw, fc.INT, fc.INT, 128) is None


def test_non_fixed_codecs_decline():
    assert (
        vz.encode_kv_fixed([1], ["x"], fc.INT, fc.STRING, 128) is None
    )
    assert not vz.is_fixed(fc.STRING)


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), min_size=1, max_size=200))
def test_vector_murmur_parity(codes):
    from bravo_spark.codecs import hashes as kh

    arr = np.array(codes, dtype=np.int64).astype(np.uint64).astype(np.uint32)
    got = vz.vector_murmur(arr)
    for c, g in zip(codes, got):
        assert kh.flink_murmur_hash(c) == g


_FIXED_VALUES = {
    "int": st.integers(min_value=-(2**31), max_value=2**31 - 1),
    "long": st.integers(min_value=-(2**63), max_value=2**63 - 1),
    "short": st.integers(min_value=-(2**15), max_value=2**15 - 1),
    "boolean": st.booleans(),
    "double": st.floats(allow_nan=False, width=64),
    "float": st.floats(allow_nan=False, width=32),
}


@given(
    st.data(),
    st.sampled_from(sorted(vz.FIXED_DTYPES)),
    st.sampled_from(["int", "long"]),
    st.booleans(),
    st.sampled_from([128, 4096]),
)
def test_list_decode_parity(data, element, key, ttl, maxp):
    """decode_list_fixed against the scalar decode_list_state for every
    fixed element dtype, TTL on and off. A batch holding an empty list or
    a ragged row (one stray byte) must decline so the caller falls back."""
    ec, kc = fc.CODECS[element], fc.CODECS[key]
    lists = data.draw(
        st.lists(st.lists(_FIXED_VALUES[element], max_size=6), min_size=1, max_size=12)
    )
    keys = data.draw(
        st.lists(_FIXED_VALUES[key], min_size=len(lists), max_size=len(lists))
    )
    kns = [fc.encode_key_ns(k, kc, maxp) for k in keys]
    raw = [fc.encode_list_state(v, ec, ttl_ts=7 if ttl else None) for v in lists]
    filled = [i for i, v in enumerate(lists) if v]
    if filled and data.draw(st.booleans()):
        # one stray byte on a non-empty row leaves it between record
        # boundaries (on an empty boolean row it would be one element)
        raw[data.draw(st.sampled_from(filled))] += b"\x00"
        assert vz.decode_list_fixed(kns, raw, kc, ec, maxp, ttl=ttl) is None
        return
    got = vz.decode_list_fixed(kns, raw, kc, ec, maxp, ttl=ttl)
    if any(not v for v in lists):
        assert got is None
        return
    out_keys, elements, counts = got
    want = [fc.decode_list_state(r, ec, ttl=ttl) for r in raw]
    assert counts.tolist() == [len(w) for w in want]
    assert out_keys.tolist() == [k for k, w in zip(keys, want) for _ in w]
    assert elements.tolist() == [e for w in want for e in w]
    assert elements.dtype == (bool if element == "boolean" else
                              np.dtype(vz.FIXED_DTYPES[element][0]).newbyteorder("="))


def test_list_decode_checks_separators():
    """The scalar decoder skips separator bytes unread; the fast path
    declines a batch whose separators aren't LIST_SEPARATOR, so that
    batch decodes exactly as the scalar path would."""
    kns = [fc.encode_key_ns(1, fc.INT, 128)]
    raw = bytearray(fc.encode_list_state([1, 2, 3], fc.INT))
    raw[4] = 0x00
    assert fc.decode_list_state(bytes(raw), fc.INT) == [1, 2, 3]
    assert vz.decode_list_fixed(kns, [bytes(raw)], fc.INT, fc.INT, 128) is None
    ok = fc.encode_list_state([1, 2, 3], fc.INT)
    keys, elements, counts = vz.decode_list_fixed(kns, [ok], fc.INT, fc.INT, 128)
    assert (keys.tolist(), elements.tolist(), counts.tolist()) == ([1, 1, 1], [1, 2, 3], [3])

