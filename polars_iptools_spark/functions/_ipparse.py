"""Vectorized IP parsing helpers shared by the Arrow UDF kernels.

Everything here operates on whole pandas Series / numpy arrays — one
call per Arrow batch, no per-row Python UDFs (BASELINE.json
input_hint).  :func:`ip_keys` is the one place a UDF input batch
(string, u32 integer or 4/16-byte binary) becomes IP keys, the analog
of the reference's ``series_to_ipaddrs`` (reference
``src/iptools.rs:444-502``).  IPv4 text is the hot path:
a vectorized strict dotted-quad parse (:func:`parse_v4_strict`); IPv6
falls back to stdlib ``ipaddress`` only for the (rare) rows the fast
path rejected.

Canonical 16-byte form: IPv4 is stored v4-mapped (``::ffff:a.b.c.d``),
matching the reference's IPAddress extension storage rule
(/root/reference/src/iptools.rs:338,353,368).  Big-endian 16-byte keys
compare bytewise exactly like the underlying unsigned 128-bit integers,
so sorted ``|S16`` numpy arrays support ``np.searchsorted`` range
lookups (:func:`interval_pos`) — the array-encoded equivalent of the
reference's LC-trie (reference ``src/iptools.rs:130-151``).
"""

from __future__ import annotations

import ipaddress
import re
import socket

import numpy as np
import pandas as pd

_V4_OCTET = r"(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
# \A..\Z (Python's absolute end anchor — NOT '$', which also matches
# before a trailing newline and would disagree with the strict
# canonical-roundtrip gate on inputs like '1.2.3.4\n')
V4_FULLMATCH = re.compile(
    r"\A" + r"\.".join([_V4_OCTET] * 4) + r"\Z"
)

V4_MAPPED_PREFIX = b"\x00" * 10 + b"\xff\xff"


def _parse_v4_strict_obj(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-row fallback parser (the r6 implementation): C-level
    ``inet_aton`` per row plus a vectorized canonical-roundtrip gate.
    Kept as the fallback for batches the byte-matrix fast path cannot
    encode (non-ASCII content) and as the reference implementation the
    property suite cross-checks."""
    n = len(arr)
    nums = np.zeros(n, dtype=np.uint32)
    cand = np.zeros(n, dtype=bool)
    aton = socket.inet_aton
    from_bytes = int.from_bytes
    for i in range(n):
        try:
            nums[i] = from_bytes(aton(arr[i]), "big")
            cand[i] = True
        except (OSError, TypeError, ValueError, UnicodeError):
            pass
    idx = np.flatnonzero(cand)
    if len(idx):
        v = nums[idx]
        octs = np.stack(
            [(v >> 24) & 255, (v >> 16) & 255, (v >> 8) & 255, v & 255], axis=1
        ).astype(np.uint8)
        ok = quad_strings(octs) == arr[idx]
        cand[idx[~ok]] = False
    return nums, cand


# strict dotted-quad grammar for Arrow's RE2 (absolute ^/$ anchors:
# RE2 without multiline does NOT match before a trailing newline, so
# '1.2.3.4\n' is rejected exactly like the fallback parser)
_V4_RE2 = (
    r"^(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    r"(\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}$"
)


def parse_v4_strict(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Object array of str/None -> (uint32 numbers, strict-valid mask).

    Vectorized Arrow-compute path (r07): ONE RE2 pass validates the
    strict grammar and a split + C-level int cast computes the numeric
    form for the valid rows — zero per-row Python.  Measured 21 ms vs
    67 ms for the r6 per-row ``inet_aton`` loop on a 65k bench-shaped
    batch; profiling showed this parse was >80% of the geoip / is_in /
    to_address batch kernels.  Batches Arrow cannot ingest as strings
    (mixed object types) fall back to the per-row parser, preserving
    the non-str -> invalid contract.  Only string batches reach this
    parser: :func:`ip_keys` sends binary batches down its own path, so
    Arrow never utf8-decodes bytes as text.  Equivalence with V4_FULLMATCH
    (and with the fallback) is property-tested in
    tests/test_kernels_hypothesis.py.
    """
    n = len(arr)
    nums = np.zeros(n, dtype=np.uint32)
    if n == 0:
        return nums, np.zeros(0, dtype=bool)
    try:
        import pyarrow as pa
        import pyarrow.compute as pc

        a = pa.array(arr, type=pa.string(), from_pandas=True)
        ok = pc.fill_null(pc.match_substring_regex(a, _V4_RE2), False)
        okn = ok.to_numpy(zero_copy_only=False)
        if okn.any():
            valid = pc.if_else(ok, a, pa.scalar(None, pa.string()))
            flat = pc.list_flatten(pc.split_pattern(valid, "."))
            quads = pc.cast(flat, pa.int64()).to_numpy(zero_copy_only=False)
            if len(quads) != int(okn.sum()) * 4:  # defensive: never expected
                return _parse_v4_strict_obj(arr)
            q = quads.reshape(-1, 4)
            nums[okn] = (
                (q[:, 0] << 24) | (q[:, 1] << 16) | (q[:, 2] << 8) | q[:, 3]
            ).astype(np.uint32)
        return nums, okn
    except Exception:
        return _parse_v4_strict_obj(arr)


def is_v4_mapped(m: np.ndarray) -> np.ndarray:
    """(n, 16) uint8 key matrix -> mask of keys inside ::ffff:0:0/96."""
    return (m[:, 10] == 0xFF) & (m[:, 11] == 0xFF) & ~m[:, :10].any(axis=1)


def _map_v4(keys: np.ndarray, idx: np.ndarray, octets: np.ndarray) -> None:
    """Write (k, 4) big-endian IPv4 octets into rows ``idx`` of the key
    matrix as v4-mapped ``::ffff:a.b.c.d``."""
    keys[idx, 10:12] = 0xFF
    keys[idx, 12:16] = octets


def _u32_octets(nums: np.ndarray) -> np.ndarray:
    return nums.astype(">u4").view(np.uint8).reshape(-1, 4)


def ip_keys(s: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """A UDF input batch -> ``(keys, valid, family)``: the one place a
    batch becomes IP keys, after the reference's ``series_to_ipaddrs``
    (reference ``src/iptools.rs:444-502``).

    ``keys`` is an (n, 16) uint8 matrix of v4-mapped 16-byte keys (zero
    where invalid), ``valid`` a bool mask, ``family`` int8: 0 for null
    or invalid, 4 for IPv4, 6 for IPv6.  The batch's kind is decided
    once, from its first non-null value (a Spark column has one type):

    - binary: 16-byte values pass through, 4-byte values are v4-mapped,
      other lengths are invalid.  Family 4 for 4-byte and v4-mapped
      16-byte values (the storage rule ``to_string`` renders as a dotted
      quad), else 6.
    - integer: values in the u32 range are v4-mapped (family 4); others
      are invalid.
    - str: strict dotted quads are family 4; anything with a ``:`` that
      stdlib parses as IPv6 is family 6, including ``::ffff:a.b.c.d``
      text — the reference routes by the parsed family
      (reference ``src/iptools.rs:160-166``), so a v4-mapped IPv6
      string never matches a v4 CIDR although its key equals the IPv4's.

    Use ``keys[i].tobytes()`` for a row's bytes: an element of the
    ``|S16`` view drops trailing NULs (``::`` would come back empty).
    """
    n = len(s)
    keys = np.zeros((n, 16), dtype=np.uint8)
    family = np.zeros(n, dtype=np.int8)
    vals = s.to_numpy()
    first = next((v for v in vals if v is not None), None)
    if isinstance(first, (bytes, bytearray, memoryview)):
        import pyarrow as pa

        # the values' offsets and bytes as numpy views of one Arrow
        # binary array: every row is a slice of ``buf``
        _, offsets, data = pa.array(vals, type=pa.binary(), from_pandas=True).buffers()
        off = np.frombuffer(offsets, dtype=np.int32, count=n + 1)
        buf = np.frombuffer(data or b"", dtype=np.uint8)
        length = np.diff(off)  # null rows have length 0
        i16 = np.flatnonzero(length == 16)
        keys[i16] = buf[off[i16, None] + np.arange(16)]
        family[i16] = np.where(is_v4_mapped(keys[i16]), 4, 6)
        i4 = np.flatnonzero(length == 4)
        _map_v4(keys, i4, buf[off[i4, None] + np.arange(4)])
        family[i4] = 4
    elif first is not None and not isinstance(first, str):
        nums = pd.to_numeric(s, errors="coerce")
        ok = (nums.notna() & (nums >= 0) & (nums <= 0xFFFFFFFF)).to_numpy()
        idx = np.flatnonzero(ok)
        _map_v4(keys, idx, _u32_octets(nums.to_numpy()[idx].astype(np.uint32)))
        family[idx] = 4
    elif n:
        arr = vals.astype(object, copy=False)
        nums, v4mask = parse_v4_strict(arr)
        idx = np.flatnonzero(v4mask)
        _map_v4(keys, idx, _u32_octets(nums[idx]))
        family[idx] = 4
        # per-row stdlib fallback only for non-IPv4 rows that could be v6
        for i in np.flatnonzero(s.notna().to_numpy() & ~v4mask):
            v = arr[i]
            if not isinstance(v, str) or ":" not in v:
                continue
            try:
                keys[i] = np.frombuffer(
                    int(ipaddress.IPv6Address(v)).to_bytes(16, "big"), dtype=np.uint8
                )
                family[i] = 6
            except ValueError:
                pass
    return keys, family != 0, family


# precomputed octet strings: dotted-quad rendering becomes four C-level
# object-array gathers + three concats (measured 3.3x over a per-row
# join loop and 12x over np.char chains at 600k rows)
OCT_STR = np.array([str(i) for i in range(256)], dtype=object)
DOT_OCT_STR = np.array(["." + str(i) for i in range(256)], dtype=object)


def quad_strings(octets: np.ndarray) -> np.ndarray:
    """(k, 4) uint8 octet matrix -> object array of dotted-quad strings."""
    return (
        OCT_STR[octets[:, 0]]
        + DOT_OCT_STR[octets[:, 1]]
        + DOT_OCT_STR[octets[:, 2]]
        + DOT_OCT_STR[octets[:, 3]]
    )


def packed16_to_str(b: bytes) -> str | None:
    """16-byte (or 4-byte) binary -> canonical string.

    v4-mapped 16-byte values render as plain dotted quad, matching
    /root/reference/src/iptools.rs:291-314; other lengths -> None.
    """
    if b is None:
        return None
    if len(b) == 4:
        return ".".join(str(x) for x in b)
    if len(b) != 16:
        return None
    if b[:12] == V4_MAPPED_PREFIX:
        return ".".join(str(x) for x in b[12:])
    return str(ipaddress.IPv6Address(b))


def merge_intervals(intervals: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort [lo,hi] int intervals and merge overlapping or adjacent ones."""
    merged: list[tuple[int, int]] = []
    for lo, hi in sorted(intervals):
        if merged and lo <= merged[-1][1] + 1:
            merged[-1] = (merged[-1][0], max(merged[-1][1], hi))
        else:
            merged.append((lo, hi))
    return merged


def sort_intervals(
    intervals: list[tuple[int, int]],
) -> tuple[np.ndarray, np.ndarray]:
    """Merge + sort [lo,hi] 128-bit int intervals into |S16 key arrays."""
    merged = merge_intervals(intervals)
    lo_arr = np.array([lo.to_bytes(16, "big") for lo, _ in merged], dtype="|S16")
    hi_arr = np.array([hi.to_bytes(16, "big") for _, hi in merged], dtype="|S16")
    return lo_arr, hi_arr


def interval_pos(lo: np.ndarray, hi: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """Index of the sorted, disjoint ``[lo, hi]`` interval holding each
    key, -1 where none does.  ``lo``/``hi``/``keys`` share one dtype:
    ``uint32`` or ``|S16`` arrays (array-vs-array, so ``|S16`` compares
    full fixed-width bytes)."""
    pos = np.searchsorted(lo, keys, side="right") - 1
    hit = pos >= 0
    hit[hit] = keys[hit] <= hi[pos[hit]]
    return np.where(hit, pos, -1)
