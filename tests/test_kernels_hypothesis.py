"""Hypothesis property tests for the pure-numpy hot-path kernels —
no SparkSession needed, so they pin the batch kernels' semantics
independently of the JVM.

Two equivalence contracts:
1. ``ip_keys`` (the one normalizer every IP kernel feeds its input
   batch through) must agree with stdlib ``ipaddress`` on the 16-byte
   key, the validity and the address family of every row — for string,
   4/16/other-length binary and integer batches.
2. ``jaro_winkler_batch`` (the vectorized (L, N) matrix kernel that
   scores candidate pairs) must agree with the scalar textbook
   ``jaro_winkler`` to float precision on every string pair.
"""

import ipaddress

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from polars_iptools_spark.functions import _ipparse
from polars_iptools_spark.plans import scoring

# -- strategies ---------------------------------------------------------

_octet = st.integers(0, 255)
_v4 = st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", _octet, _octet, _octet, _octet)
_v6 = st.integers(0, (1 << 128) - 1).map(lambda v: str(ipaddress.IPv6Address(v)))
_garbage = st.text("0123456789abcdefg.:% \n", max_size=20)
_ip_like = st.one_of(_v4, _v6, _garbage, st.none())


_MAPPED = 0xFFFF << 32


def _stdlib_key(v):
    """(16-byte key, family) of one batch value per stdlib ``ipaddress``,
    or None when the row is null / invalid."""
    if v is None:
        return None
    if isinstance(v, bytes):
        if len(v) == 4:
            return (_MAPPED | int(ipaddress.IPv4Address(v))).to_bytes(16, "big"), 4
        if len(v) != 16:
            return None
        addr = ipaddress.IPv6Address(v)
        return v, 4 if addr.ipv4_mapped is not None else 6
    if isinstance(v, int):
        if not 0 <= v <= 0xFFFFFFFF:
            return None
        return (_MAPPED | v).to_bytes(16, "big"), 4
    try:
        addr = ipaddress.ip_address(v)
    except ValueError:
        return None
    if addr.version == 4:
        # the strict grammar: stdlib also rejects leading zeros
        return (_MAPPED | int(addr)).to_bytes(16, "big"), 4
    return int(addr).to_bytes(16, "big"), 6


def _check_ip_keys(vals, dtype=object):
    keys, valid, family = _ipparse.ip_keys(pd.Series(vals, dtype=dtype))
    assert keys.shape == (len(vals), 16) and keys.dtype == np.uint8
    for i, v in enumerate(vals):
        exp = _stdlib_key(v)
        if exp is None:
            assert not valid[i] and family[i] == 0, (v, valid[i], family[i])
        else:
            assert valid[i], v
            assert (keys[i].tobytes(), int(family[i])) == exp, (v, keys[i].tobytes())


# all-zero tails: an |S16 element would drop these NULs
_ZERO_TAILS = ["::", "0.0.0.0", "10.0.0.0", "::ffff:0.0.0.0", "1::"]
_mapped_v6 = st.integers(0, 0xFFFFFFFF).map(lambda v: str(ipaddress.IPv6Address(_MAPPED | v)))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_ip_like, _mapped_v6, st.sampled_from(_ZERO_TAILS)), max_size=40))
def test_ip_keys_str_matches_stdlib(vals):
    _check_ip_keys(vals)


_addr_bytes = st.one_of(
    st.binary(min_size=4, max_size=4),
    st.binary(min_size=16, max_size=16),
    st.integers(0, 0xFFFFFFFF).map(lambda v: (_MAPPED | v).to_bytes(16, "big")),
    st.sampled_from([bytes(16), bytes(4), bytes(12) + b"\n\0\0\0", b"\x01" + bytes(15)]),
    st.binary(max_size=20),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.one_of(_addr_bytes, st.none()), max_size=40))
def test_ip_keys_binary_matches_stdlib(vals):
    _check_ip_keys(vals)


_u32ish = st.one_of(
    st.integers(0, 0xFFFFFFFF),
    st.sampled_from([0, 167772160, 0xFFFFFFFF, -1, 1 << 32]),
    st.integers(-(1 << 63), (1 << 63) - 1),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_u32ish, max_size=40), st.booleans())
def test_ip_keys_integer_matches_stdlib(vals, with_null):
    # an int64 batch, or (with nulls) the float64/object form pandas
    # gives a nullable integer column
    if with_null:
        _check_ip_keys([v if i % 3 else None for i, v in enumerate(vals)])
    else:
        _check_ip_keys(vals, dtype="int64")


def test_ip_keys_bytes_batch_is_not_decoded_as_text():
    """A binary batch takes the binary path even when its bytes spell
    an address: b"1.2.3.4" is 7 bytes (invalid), not the text 1.2.3.4,
    and 16 ASCII bytes are a key, not text."""
    text16 = b"1234:5678::9abc0"
    keys, valid, family = _ipparse.ip_keys(
        pd.Series([b"1.2.3.4", text16, b"::1"], dtype=object)
    )
    assert valid.tolist() == [False, True, False]
    assert keys[1].tobytes() == text16 and family.tolist() == [0, 6, 0]


_v4ish = st.one_of(
    _v4,
    # near-miss forms the strict gate must reject exactly like the regex
    st.builds(lambda a, b, c: f"{a}.{b}.{c}", _octet, _octet, _octet),
    st.builds(lambda v4: "0" + v4, _v4),
    st.builds(lambda v4: v4 + " ", _v4),
    st.builds(lambda v4: " " + v4, _v4),
    # trailing newline: '$'-anchored regex would accept, absolute \Z
    # (and the strict parser) reject — the class the ADVICE flagged
    st.builds(lambda v4: v4 + "\n", _v4),
    st.builds(lambda v4: "0x" + v4, _v4),
    st.builds(lambda a, b: f"{a}.{b}", st.integers(0, 2**24 - 1), _octet),
    # NUL suffix: indistinguishable from Arrow/C terminators unless the
    # parser checks true string length (r07 vectorized path)
    st.builds(lambda v4: v4 + "\x00", _v4),
    st.text("0123456789.x \n\x00", max_size=18),
)


@settings(max_examples=300, deadline=None)
@given(st.lists(_v4ish, max_size=30))
def test_parse_v4_strict_equals_regex(vals):
    """The inet_aton + canonical-roundtrip parser accepts EXACTLY the
    strict dotted-quad language of V4_FULLMATCH, with equal values."""
    arr = np.array(vals, dtype=object)
    nums, mask = _ipparse.parse_v4_strict(arr)
    # the r07 Arrow-compute fast path and the per-row fallback must
    # agree with each other AND with the regex
    nums_f, mask_f = _ipparse._parse_v4_strict_obj(arr)
    assert (mask == mask_f).all()
    assert (nums[mask] == nums_f[mask]).all()
    for i, v in enumerate(vals):
        m = _ipparse.V4_FULLMATCH.match(v)
        assert bool(mask[i]) == bool(m), f"{v!r}: strict={mask[i]} regex={bool(m)}"
        if m:
            expect = sum(int(g) << k for g, k in zip(m.groups(), (24, 16, 8, 0)))
            assert int(nums[i]) == expect, (v, nums[i], expect)


# -- is_in: interval kernel vs stdlib ipaddress -------------------------

_v4_cidr = st.builds(
    lambda a, b, c, d, p: f"{a}.{b}.{c}.{d}/{p}",
    _octet, _octet, _octet, _octet, st.integers(0, 32),
)
_v6_cidr = st.builds(
    lambda v, p: f"{ipaddress.IPv6Address(v)}/{p}",
    st.integers(0, (1 << 128) - 1),
    st.integers(0, 128),
)
_mapped_text = st.builds(lambda a, b: f"::ffff:{a}.{b}.7.9", _octet, _octet)
_member_probe = st.one_of(_v4, _v6, _mapped_text, _garbage, st.none())


def _expected_member(s, v4_nets, v6_nets):
    """Reference semantics via stdlib: null/invalid -> None; textual
    family routes to that family's CIDR list only (a v4-mapped IPv6
    STRING is a v6 address, /root/reference/src/iptools.rs:160-166)."""
    if s is None:
        return None
    try:
        addr = ipaddress.ip_address(s)
    except ValueError:
        return None
    if addr.version == 4:
        return any(addr in n for n in v4_nets)
    return any(addr in n for n in v6_nets)


@settings(max_examples=250, deadline=None)
@given(
    st.lists(st.one_of(_v4_cidr, _v6_cidr), min_size=1, max_size=12),
    st.lists(_member_probe, max_size=25),
)
def test_is_in_kernel_matches_stdlib(cidrs, probes):
    from polars_iptools_spark.functions import iptools

    v4_iv, v6_iv = iptools._compile_networks(cidrs)
    l4, h4 = _ipparse.sort_intervals(v4_iv)
    l6, h6 = _ipparse.sort_intervals(v6_iv)
    got = iptools._is_in_kernel(pd.Series(probes, dtype=object), l4, h4, l6, h6)
    nets = [ipaddress.ip_network(c, strict=False) for c in cidrs]
    v4_nets = [n for n in nets if n.version == 4]
    v6_nets = [n for n in nets if n.version == 6]
    for i, s in enumerate(probes):
        exp = _expected_member(s, v4_nets, v6_nets)
        assert got[i] == exp, (s, cidrs, got[i], exp)


_word = st.text(
    st.characters(codec="utf-8", exclude_categories=("Cs",)), max_size=24
)


@settings(max_examples=150, deadline=None)
@given(st.lists(st.tuples(_word, _word), min_size=1, max_size=30))
def test_jw_batch_matches_scalar(pairs):
    a = np.array([p[0] for p in pairs], dtype=object)
    b = np.array([p[1] for p in pairs], dtype=object)
    batch = scoring.jaro_winkler_batch(a, b)
    for i, (x, y) in enumerate(pairs):
        expect = scoring.jaro_winkler(x, y)
        assert abs(batch[i] - expect) < 1e-12, (x, y, batch[i], expect)
