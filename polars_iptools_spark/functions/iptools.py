"""IP scalar functions — Spark-native re-expression of the reference API.

Design rule: every function is pure Catalyst expressions unless it
needs a lookup table.  ``is_valid``, ``is_private``, the numeric
conversions, ``to_address``/``to_string``, both ``extract_ips`` paths
and ``is_in`` over at most 64 intervals run inside the JVM — zero
Python workers.  IPv6 goes through one native codec: strict text -> 32
lowercase hex digits (:func:`_v6_hex`) and back to RFC 5952 text
(:func:`_hex_to_v6_text`).  Only ``is_in`` over a larger CIDR set
crosses into a vectorized Arrow/pandas UDF (sorted-interval
searchsorted).

The pandas kernels kept here (``_to_address_udf``, ``_to_string_udf``,
``_extract_udf_v6``) back the ``pis_*`` SQL-text functions and are the
reference implementations the property suite pins the native
expressions against.

Semantics contracts are pinned to the reference kernels, cited per
function (file:line into /root/reference/).
"""

from __future__ import annotations

import functools
import ipaddress
import re
import warnings
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, BooleanType, LongType, StringType

from . import _ipparse
from ._enrich import shipped

__all__ = [
    "is_valid",
    "is_private",
    "ipv4_to_numeric",
    "numeric_to_ipv4",
    "to_ipv4",
    "to_address",
    "to_string",
    "is_in",
    "extract_ips",
    "extract_public_ips",
    "extract_private_ips",
    "extract_all_ips",
]

# ---------------------------------------------------------------------------
# regex building blocks (shared by validation and extraction)
# ---------------------------------------------------------------------------

_V4_OCTET = r"(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
_V4 = rf"(?:{_V4_OCTET}\.){{3}}{_V4_OCTET}"
_H = "[0-9A-Fa-f]{1,4}"

# Exhaustive IPv6 textual forms (RFC 4291 §2.2), no zone-ids — matching
# Rust std IpAddr::from_str used at /root/reference/src/iptools.rs:62.
_V6_PURE = [
    rf"(?:{_H}:){{7}}{_H}",          # 1:2:3:4:5:6:7:8
    rf"(?:{_H}:){{1,7}}:",           # 1:: .. 1:2:3:4:5:6:7::
    rf"(?:{_H}:){{1,6}}:{_H}",       # 1::8
    rf"(?:{_H}:){{1,5}}(?::{_H}){{1,2}}",
    rf"(?:{_H}:){{1,4}}(?::{_H}){{1,3}}",
    rf"(?:{_H}:){{1,3}}(?::{_H}){{1,4}}",
    rf"(?:{_H}:){{1,2}}(?::{_H}){{1,5}}",
    rf"{_H}:(?::{_H}){{1,6}}",
    rf":(?:(?::{_H}){{1,7}}|:)",     # ::, ::1 etc.
]
# v4-embedded tails: full (h:){6}v4, plus compressed L::R v4 where the
# group counts satisfy len(L)+len(R) <= 5 (v4 tail uses the last 2).
_V6_V4 = [rf"(?:{_H}:){{6}}{_V4}"]
for _r in range(0, 6):
    _lmax = 5 - _r
    _left = rf"(?:(?:{_H}:){{0,{_lmax - 1}}}{_H})?" if _lmax > 0 else ""
    _mid = rf"(?:{_H}:){{{_r}}}" if _r else ""
    _V6_V4.append(rf"{_left}::{_mid}{_V4}")
_V6 = "(?:" + "|".join(_V6_PURE + _V6_V4) + ")"

# \A..\z absolute anchors (not ^..$): Java's '$' also matches just
# before a FINAL newline, so '^..$' would accept '1.2.3.4\n' in
# is_valid while the strict roundtrip parser (and Rust from_str,
# /root/reference/src/iptools.rs:62) reject it — a cross-op
# inconsistency.  \z anchors at the true end of input in Java regex
# AND DuckDB's RE2 (the oracle embeds VALID_ANCHORED verbatim).
V4_ANCHORED = rf"\A{_V4}\z"
V6_ANCHORED = rf"\A{_V6}\z"
VALID_ANCHORED = rf"\A(?:{_V4}|{_V6})\z"

# extraction candidate: strict dotted quad not butted against digits/dots
_V4_CAND = rf"(?<![0-9.])({_V4})(?![0-9.])"

_MAX_U32 = 4294967295


def _col(expr: Column | str) -> Column:
    return F.col(expr) if isinstance(expr, str) else expr


def _let(value: Column, body) -> Column:
    """``body(v)`` with ``v`` bound to ``value`` once.  Catalyst trees do
    not share subtrees, so a body that reads a large input several times
    would copy it into the plan, and evaluate each copy; on
    ``to_string(to_address(ip))`` over 100k rows at ``local[4]`` the
    copies took planning from 0.2 s to 1.8 s and the first
    (code-generating) run from 1.5 s to 6.2 s.  The body evaluates
    interpreted and shares no subexpressions, so it binds what it reads
    more than once."""
    return F.transform(F.array(value), body)[0]


# ---------------------------------------------------------------------------
# native (pure-Catalyst) scalar functions
# ---------------------------------------------------------------------------


def is_valid(expr: Column | str) -> Column:
    """True if the string is a valid IPv4 or IPv6 address.

    Contract (null -> null, invalid -> false):
    /root/reference/src/iptools.rs:61-67, tests/test_iptools.py:30-44.
    Pure JVM regex — no Python worker.
    """
    return _col(expr).rlike(VALID_ANCHORED)


def ipv4_to_numeric(expr: Column | str) -> Column:
    """Dotted-quad string -> u32 (LongType).

    null -> null; anything not a strict IPv4 string (IPv6, out-of-range
    octets, leading zeros) -> null.
    /root/reference/src/iptools.rs:82-103, tests/test_iptools.py:72-92.
    """
    c = _col(expr)
    return F.when(c.rlike(V4_ANCHORED), _quad_num(c)).otherwise(
        F.lit(None).cast("long")
    )


def _quad_num(x: Column) -> Column:
    """u32 value of a dotted quad already known to be strict."""
    return F.aggregate(
        F.transform(F.split(x, r"\."), lambda t: t.try_cast("long")),
        F.lit(0).cast("long"),
        lambda acc, t: acc * 256 + t,
    )


def numeric_to_ipv4(expr: Column | str) -> Column:
    """u32 -> dotted-quad string; out-of-range / non-numeric -> null.

    Mirrors the reference's lenient ``cast(UInt32, strict=False)``
    front-end (/root/reference/polars_iptools/iptools.py:186) followed
    by the kernel (/root/reference/src/iptools.rs:106-122).
    """
    n = _col(expr).try_cast("long")
    octet = lambda k: F.shiftright(n, k).bitwiseAND(F.lit(255)).cast("string")  # noqa: E731
    quad = F.concat_ws(".", octet(24), octet(16), octet(8), octet(0))
    return F.when((n >= 0) & (n <= _MAX_U32), quad).otherwise(
        F.lit(None).cast("string")
    )


def _is_private_num(n: Column) -> Column:
    """RFC-1918 check over the numeric form (10/8, 172.16/12, 192.168/16)."""
    return (
        (F.shiftright(n, 24) == 10)
        | (F.shiftright(n, 20) == 0xAC1)
        | (F.shiftright(n, 16) == 0xC0A8)
    )


def is_private(expr: Column | str) -> Column:
    """RFC-1918 private IPv4?  IPv6 and invalid strings -> false, null -> null.

    /root/reference/src/iptools.rs:70-79, tests/test_iptools.py:47-69.
    """
    c = _col(expr)
    n = ipv4_to_numeric(c)
    return F.when(c.isNull(), F.lit(None).cast("boolean")).otherwise(
        F.coalesce(_is_private_num(n), F.lit(False))
    )


def to_ipv4(expr: Column | str) -> Column:
    """Parse string -> typed IPv4 (u32 storage, LongType column).

    The reference's IPv4 extension type stores u32
    (/root/reference/polars_iptools/types.py:25); Spark lacks extension
    types so the storage column *is* the value — attach field metadata
    with :func:`polars_iptools_spark.types.as_ipv4` to tag the schema.
    null/invalid/IPv6 -> null (/root/reference/src/iptools.rs:505-524).
    """
    return ipv4_to_numeric(expr)


# ---------------------------------------------------------------------------
# native IPv6 codec: text <-> 32 lowercase hex digits
# ---------------------------------------------------------------------------

# the 12-byte prefix of a v4-mapped address (::ffff:0:0/96), as hex
_V4_MAPPED_HEX = "0" * 20 + "ffff"


def _v6_hex_unchecked(s: Column) -> Column:
    """IPv6 text already known to match ``V6_ANCHORED`` -> its 128 bits
    as 32 lowercase hex digits.

    A dotted-quad tail becomes two hex groups, every group is left-padded
    to four digits, and ``::`` expands to the missing zero digits — with
    literal splits and replaces only, no regex."""
    tail = F.substring_index(s, ":", -1)
    quad = F.format_string(
        "%02x%02x:%02x%02x",
        *[F.split_part(tail, F.lit("."), F.lit(i)).try_cast("int") for i in range(1, 5)],
    )
    groups = F.when(
        s.contains("."), F.concat(F.left(s, F.length(s) - F.length(tail)), quad)
    ).otherwise(s)
    padded = F.array_join(
        F.transform(
            F.split(groups, ":"),
            lambda g: F.when(g == "", g).otherwise(F.lpad(g, 4, "0")),
        ),
        ":",
    )

    def expand(p: Column) -> Column:
        missing = 32 - F.length(F.replace(p, F.lit(":"), F.lit("")))
        full = F.replace(p, F.lit("::"), F.repeat(F.lit("0"), missing))
        return F.lower(F.replace(full, F.lit(":"), F.lit("")))

    return _let(padded, expand)


def _v6_hex(s: Column) -> Column:
    """Strict IPv6 text -> 32 lowercase hex digits; null unless ``s``
    matches ``V6_ANCHORED`` (so dotted quads and invalid text -> null).
    Fixed-width lowercase hex orders like the unsigned 128-bit value."""
    return F.when(s.rlike(V6_ANCHORED), _v6_hex_unchecked(s))


def _strip_group_zeros(groups: Column) -> Column:
    """Drop the leading zeros of every ``:``-separated hex group."""
    return F.regexp_replace(groups, r"\b0+(?=[0-9a-f])", "")


def _hex_to_v6_text(h: Column) -> Column:
    """32 lowercase hex digits -> RFC 5952 text, as Python's
    ``str(IPv6Address)``: zeros stripped per group, and the first
    longest run of two or more zero groups compressed to ``::``.

    ``p`` is ``:g0:g1:...:g7:`` (41 chars, every group four digits), so
    a run of k zero groups is the substring ``:0000:...0000:`` and
    ``instr`` finds its first occurrence; probing k = 8..2 in order
    makes the first hit the first longest run."""
    framed = F.concat(
        *[F.concat(F.lit(":"), F.substring(h, 4 * i + 1, 4)) for i in range(8)],
        F.lit(":"),
    )

    def compress(p: Column) -> Column:
        # first hit as pos * 16 + k, so the probes run once
        probes = [(k, F.instr(p, F.lit(":" + "0000:" * k))) for k in range(8, 1, -1)]
        code = F.coalesce(*[F.when(i > 0, i * 16 + k) for k, i in probes])

        def splice(c: Column) -> Column:
            pos, k = F.shiftright(c, 4), c.bitwiseAND(15)
            left = F.substring(p, F.lit(2), pos - 2)
            right = F.substring(p, pos + 5 * k + 1, 40 - pos - 5 * k)
            return F.when(c.isNotNull(), F.concat(left, F.lit("::"), right)).otherwise(
                F.substring(p, 2, 39)
            )

        return _strip_group_zeros(_let(code, splice))

    return _let(framed, compress)


def _hex_to_quad(h8: Column) -> Column:
    """8 hex digits -> dotted quad (one ``conv``, then bit arithmetic)."""
    return _let(F.conv(h8, 16, 10), numeric_to_ipv4)


def _by_input_type(x: Column, text: Column, binary: Column, integer: Column) -> Column:
    """Pick the branch for ``x``'s SQL type.  ``typeof`` folds at plan
    time, so the CASE collapses to one branch; every branch must still
    analyze for string, bigint and binary input, which is why branches
    read ``x`` only through ``x.cast("string")`` and ``hex(x)``."""
    t = F.typeof(x)
    return F.when(t == "string", text).when(t == "binary", binary).otherwise(integer)


def _to_address_expr(x: Column) -> Column:
    s = x.cast("string")
    h = F.hex(x)
    n = s.try_cast("long")
    v4 = F.concat(F.lit(_V4_MAPPED_HEX), F.lpad(F.hex(ipv4_to_numeric(s)), 8, "0"))
    text = F.unhex(F.coalesce(v4, _v6_hex(s)))
    binary = F.when(F.length(h) == 32, F.unhex(h)).when(
        F.length(h) == 8, F.unhex(F.concat(F.lit(_V4_MAPPED_HEX), h))
    )
    integer = F.when(
        (n >= 0) & (n <= _MAX_U32),
        F.unhex(F.concat(F.lit(_V4_MAPPED_HEX), F.lpad(F.hex(n), 8, "0"))),
    )
    return _by_input_type(x, text, binary, integer)


def to_address(expr: Column | str) -> Column:
    """Promote string / u32 / binary column -> 16-byte IPAddress binary.

    IPv4 stored v4-mapped ``::ffff:a.b.c.d``
    (reference ``src/iptools.rs:328-385``).  null/unparseable -> null;
    4-byte binary is promoted to v4-mapped, 16-byte binary passes
    through, other lengths -> null; integers outside u32 -> null.
    Pure Catalyst: the input type is dispatched at plan time.
    """
    return _let(_col(expr), _to_address_expr)


def _hex_text(h: Column) -> Column:
    """Lowercase hex of a 16- or 4-byte address -> canonical text."""
    return F.when(
        F.length(h) == 32,
        F.when(
            h.startswith(_V4_MAPPED_HEX), _hex_to_quad(F.substring(h, 25, 8))
        ).otherwise(_hex_to_v6_text(h)),
    ).when(F.length(h) == 8, _hex_to_quad(h))


def _to_string_expr(x: Column) -> Column:
    number = numeric_to_ipv4(x.cast("string"))
    return _by_input_type(x, number, _let(F.lower(F.hex(x)), _hex_text), number)


def to_string(expr: Column | str) -> Column:
    """Typed IP (u32 LongType or 16/4-byte binary) -> canonical string.

    v4-mapped 16-byte values render as plain dotted quad
    (reference ``src/iptools.rs:262-325``); IPv6 in RFC-5952 canonical
    compression. null / wrong-length binary / out-of-range u32 -> null.
    Pure Catalyst: the input type is dispatched at plan time.
    """
    return _let(_col(expr), _to_string_expr)


# ---------------------------------------------------------------------------
# pandas reference kernels of the typed round-trip.  They back the
# ``pis_to_address``/``pis_to_string`` SQL-text functions (a SQL-bodied
# function needs a typed parameter, so the polymorphic op cannot become
# one) and are what the property suite pins the native expressions to.
# ---------------------------------------------------------------------------


@F.pandas_udf(BinaryType())
def _to_address_udf(s: pd.Series) -> pd.Series:
    keys, valid, _ = _ipparse.ip_keys(s)
    out = np.full(len(s), None, dtype=object)
    # row bytes from the uint8 matrix: an |S16 element drops trailing NULs
    out[valid] = [k.tobytes() for k in keys[valid]]
    return pd.Series(out)


@F.pandas_udf(StringType())
def _to_string_udf(s: pd.Series) -> pd.Series:
    vals = s.to_numpy()
    n = len(vals)
    out = np.full(n, None, dtype=object)
    if n == 0:
        return pd.Series(out)
    first = next((v for v in vals if v is not None), None)
    if isinstance(first, (bytes, bytearray)):
        # vectorized fast path for the dominant shape: 16-byte v4-mapped
        # keys render as dotted quads straight from a (k, 16) byte
        # matrix; only true-IPv6 rows (RFC-5952 compression needed) and
        # odd lengths fall back to the per-row formatter
        idx16 = np.flatnonzero(
            np.fromiter(
                (v is not None and len(v) == 16 for v in vals),
                dtype=bool,
                count=n,
            )
        )
        if len(idx16):
            M = np.frombuffer(
                b"".join(bytes(vals[i]) for i in idx16), dtype=np.uint8
            ).reshape(-1, 16)
            mapped = (
                (M[:, :10] == 0).all(axis=1)
                & (M[:, 10] == 0xFF)
                & (M[:, 11] == 0xFF)
            )
            if mapped.any():
                out[idx16[mapped]] = _ipparse.quad_strings(M[mapped, 12:16])
            for i in idx16[~mapped]:
                out[i] = _ipparse.packed16_to_str(bytes(vals[i]))
        for i in range(n):
            v = vals[i]
            if v is not None and len(v) != 16:
                out[i] = _ipparse.packed16_to_str(bytes(v))
        return pd.Series(out)
    # numeric u32 path — fully vectorized string build
    nums = pd.to_numeric(s, errors="coerce")
    ok = nums.notna() & (nums >= 0) & (nums <= _MAX_U32)
    if ok.any():
        v = nums[ok].to_numpy(np.int64)
        octs = np.stack(
            [(v >> 24) & 255, (v >> 16) & 255, (v >> 8) & 255, v & 255], axis=1
        )
        out[np.flatnonzero(ok.to_numpy())] = _ipparse.quad_strings(octs)
    return pd.Series(out)


# ---------------------------------------------------------------------------
# is_in — CIDR-set membership
# ---------------------------------------------------------------------------

# closures above this many bytes ship as a real Spark broadcast variable
_BROADCAST_THRESHOLD = 1 << 20


def _compile_networks(
    networks: Iterable[str],
) -> tuple[list[tuple[int, int]], list[tuple[int, int]]]:
    """Parse + dedup CIDRs driver-side into SEPARATE v4 / v6 interval
    lists — the array-encoded equivalent of the reference's two tries
    (/root/reference/src/iptools.rs:130-151): a v4 CIDR can only ever
    match an address parsed as IPv4, and a v6 CIDR (including
    ``::ffff:0:0/96``) only one parsed as IPv6.  Invalid CIDR raises
    eagerly, matching the reference's build-time ComputeError
    (/root/reference/src/iptools.rs:144, tests/test_iptools.py:159-171).
    The wrapper dedups and drops nulls like iptools.py:524.

    v4 intervals are expressed in the v4-mapped 128-bit space so both
    families share the 16-byte |S16 searchsorted kernel.
    """
    v4: list[tuple[int, int]] = []
    v6: list[tuple[int, int]] = []
    for net in sorted({n for n in networks if n is not None}):
        try:
            parsed = ipaddress.ip_network(net, strict=False)
        except ValueError as exc:
            raise ValueError(f"Invalid CIDR range: {net}") from exc
        lo = int(parsed.network_address)
        hi = int(parsed.broadcast_address)
        if parsed.version == 4:
            v4.append((lo | 0xFFFF00000000, hi | 0xFFFF00000000))
        else:
            v6.append((lo, hi))
    return v4, v6


# broadcast cache keyed by (applicationId, compiled interval tuple) so
# repeated is_in calls with the same set reuse ONE broadcast instead of
# leaking a new one per call.  applicationId (not id(sc)) because CPython
# can reuse a freed object's id: a new context at the same address must
# not be served a broadcast created on a stopped one.  Eviction only
# drops our references — Spark's ContextCleaner reclaims the broadcast
# once no live Column plan holds it; an explicit unpersist here could
# yank a broadcast still referenced by a live is_in column.
_BC_CACHE: dict = {}


def _broadcast_intervals(tables: tuple) -> object | None:
    nbytes = sum(a.nbytes for a in tables)
    if nbytes <= _BROADCAST_THRESHOLD:
        return None
    spark = SparkSession.getActiveSession()
    if spark is None:
        return None
    try:
        sc = spark.sparkContext
        key = (sc.applicationId, tuple(a.tobytes() for a in tables))
        bc = _BC_CACHE.get(key)
        if bc is None:
            if len(_BC_CACHE) > 8:
                _BC_CACHE.clear()
            bc = sc.broadcast(tables)
            _BC_CACHE[key] = bc
        return bc
    except Exception:
        # Spark Connect has no sparkContext — fall back to closure
        # capture, like _enrich.BroadcastedDB.broadcast
        return None


def _is_in_kernel(
    s: pd.Series,
    l4: np.ndarray,
    h4: np.ndarray,
    l6: np.ndarray,
    h6: np.ndarray,
) -> pd.Series:
    """The batch membership kernel behind the is_in UDF: the batch's
    keys from :func:`._ipparse.ip_keys`, each family searched in its
    own sorted ``|S16`` interval list.  Module-level so the hypothesis
    property suite can pin it against stdlib ``ipaddress`` without a
    SparkSession."""
    keys, _, family = _ipparse.ip_keys(s)
    k = keys.view("|S16").ravel()
    out = np.full(len(s), None, dtype=object)
    for fam, lo, hi in ((4, l4, h4), (6, l6, h6)):
        m = family == fam
        out[m] = (_ipparse.interval_pos(lo, hi, k[m]) >= 0).astype(object)
    return pd.Series(out)


# sets of at most this many merged intervals run natively; larger ones
# take the sorted-interval searchsorted UDF
_NATIVE_IS_IN_MAX = 64


def _in_sorted(v: Column, bounds: list[tuple]) -> Column:
    """``v`` inside one of the sorted, disjoint [lo, hi] ``bounds``: a
    balanced CASE tree, so a row makes ~log2(len) comparisons instead of
    testing every interval."""
    if not bounds:
        return F.lit(False)
    if len(bounds) == 1:
        lo, hi = bounds[0]
        return (v >= lo) & (v <= hi)
    mid = len(bounds) // 2
    return F.when(v < bounds[mid][0], _in_sorted(v, bounds[:mid])).otherwise(
        _in_sorted(v, bounds[mid:])
    )


def is_in(
    expr: Column | str, networks: Iterable[str], _force_udf: bool = False
) -> Column:
    """Membership of each IP in any of a set of IPv4/IPv6 CIDRs.

    null IP -> null, invalid IP -> null (NOT false), valid non-member ->
    false (/root/reference/src/iptools.rs:125-176,
    tests/test_iptools.py:135-156).  Family routing matches the
    reference's two-trie split (src/iptools.rs:160-166): a dotted-quad
    string checks only v4 CIDRs; anything parsed as IPv6 — including
    v4-mapped text like ``::ffff:1.2.3.4`` — checks only v6 CIDRs.
    Typed columns route like :func:`._ipparse.ip_keys`: u32 integers,
    4-byte and v4-mapped 16-byte binaries check the v4 CIDRs, other
    16-byte binaries the v6 ones.  The network set is compiled once, when the Column is built, into merged
    intervals.  Up to 64 intervals become pure-Catalyst range tests (v6
    bounds compare as fixed-width hex strings); larger sets run a
    searchsorted pandas UDF over sorted interval arrays, shipped as a
    closure for small sets and as a cached Spark broadcast above 1 MiB.
    """
    v4_iv, v6_iv = _compile_networks(list(networks))
    v4_iv = _ipparse.merge_intervals(v4_iv)
    v6_iv = _ipparse.merge_intervals(v6_iv)

    # up to _NATIVE_IS_IN_MAX intervals compile to a pure-Catalyst range
    # disjunction: v4 over the numeric form, v6 over the fixed-width hex
    # form (_force_udf is a test seam: the property suite asserts both
    # paths agree on every input)
    if not _force_udf and len(v4_iv) + len(v6_iv) <= _NATIVE_IS_IN_MAX:
        b4 = [(lo & 0xFFFFFFFF, hi & 0xFFFFFFFF) for lo, hi in v4_iv]
        b6 = [(format(lo, "032x"), format(hi, "032x")) for lo, hi in v6_iv]

        def member(c: Column) -> Column:
            # each input type reduces to a u32 (IPv4) or 32-hex-digit
            # (IPv6) value, routed like ip_keys: u32 integers, 4-byte
            # and v4-mapped 16-byte binaries are IPv4, other 16-byte
            # binaries IPv6, other lengths invalid
            h = F.lower(F.hex(c))
            n = c.cast("string").try_cast("long")
            mapped = (F.length(h) == 32) & h.startswith(_V4_MAPPED_HEX)
            quad = F.when(F.length(h) == 8, h).when(mapped, F.substring(h, 25, 8))
            v4 = _by_input_type(
                c,
                ipv4_to_numeric(c),
                F.conv(quad, 16, 10).cast("long"),
                F.when((n >= 0) & (n <= _MAX_U32), n),
            )
            in4 = _let(v4, lambda v: F.when(v.isNotNull(), _in_sorted(v, b4)))
            binary6 = (F.length(h) == 32) & ~mapped
            if b6:
                v6 = _by_input_type(c, _v6_hex(c), F.when(binary6, h), F.lit(None))
                in6 = _let(v6, lambda v: F.when(v.isNotNull(), _in_sorted(v, b6)))
            else:
                # valid IPv6 but v4-only set -> false; invalid -> null
                is6 = _by_input_type(c, c.rlike(V6_ANCHORED), binary6, F.lit(None))
                in6 = F.when(is6, F.lit(False))
            return F.coalesce(in4, in6)

        return _let(_col(expr), member)

    return _is_in_udf(v4_iv, v6_iv)(_col(expr))


def _is_in_udf(v4_iv: list[tuple[int, int]], v6_iv: list[tuple[int, int]]):
    """The searchsorted membership UDF over compiled interval lists."""
    lo4, hi4 = _ipparse.sort_intervals(v4_iv)
    lo6, hi6 = _ipparse.sort_intervals(v6_iv)
    tables = (lo4, hi4, lo6, hi6)
    load = shipped(_broadcast_intervals(tables), tables)

    @F.pandas_udf(BooleanType())
    def _udf(s: pd.Series) -> pd.Series:
        l4, h4, l6, h6 = load()
        return _is_in_kernel(s, l4, h4, l6, h6)

    return _udf


# ---------------------------------------------------------------------------
# extract_ips family
# ---------------------------------------------------------------------------


def _refang(c: Column, v6: bool) -> Column:
    """Un-defang ``192[.]168(.)1[.]1`` style text, JVM-side.

    The regexp_replace allocates a full copy of the text, so it is
    gated behind cheap substring probes — most corpus content contains
    no defang markers and skips the copy entirely."""
    has_dot_defang = c.contains("[.]") | c.contains("(.)")
    out = F.when(has_dot_defang, F.regexp_replace(c, r"\[\.\]|\(\.\)", ".")).otherwise(c)
    if v6:
        # probing the ORIGINAL column is sound: the dot-refang only ever
        # inserts '.', so a '[:]'/'(:)' marker in the refanged text means
        # the three chars were already contiguous in the input (any
        # replaced token between them would leave a '.' between them) —
        # regression-tested in test_iptools.py::test_refang_no_minted_markers
        has_colon_defang = c.contains("[:]") | c.contains("(:)")
        out = F.when(
            has_colon_defang, F.regexp_replace(out, r"\[:\]|\(:\)", ":")
        ).otherwise(out)
    return out


# fc00::/7, the reference's v6 "private" (reference src/iptools.rs:245-247)
def _is_ula(h: Column) -> Column:
    return h.startswith("fc") | h.startswith("fd")


_V6_LOOPBACK_HEX = "0" * 31 + "1"


def _keep_flags(
    only_public: bool,
    ignore_private: bool,
    ignore_loopback: bool,
    ignore_broadcast: bool,
):
    """Extraction flags -> (predicate over a v4 u32, predicate over a v6
    hex form) that keep an address."""
    drop_priv = only_public or ignore_private
    drop_loop = only_public or ignore_loopback
    drop_bcast = only_public or ignore_broadcast

    def keep4(n: Column) -> Column:
        keep = F.lit(True)
        # reference is_private = RFC1918 only (src/iptools.rs:70-79)
        if drop_priv:
            keep = keep & ~_is_private_num(n)
        if drop_loop:
            keep = keep & (F.shiftright(n, 24) != 127)
        if drop_bcast:
            keep = keep & (n != _MAX_U32)
        return keep

    def keep6(h: Column) -> Column:
        keep = F.lit(True)
        if drop_priv:
            keep = keep & ~_is_ula(h)
        if drop_loop:
            keep = keep & (h != _V6_LOOPBACK_HEX)
        return keep

    return keep4, keep6


# -- IPv6-capable extraction -------------------------------------------------

# one candidate scanner that Java and Python regex read alike: a bracketed
# run, a v6-shaped run, or a strict dotted quad not butted against
# digits/dots
_SCAN = (
    r"\[[0-9A-Fa-f:.]+\]"
    rf"|(?<![0-9A-Fa-f:.])(?:{_H}:|::)[0-9A-Fa-f:.]*"
    rf"|(?<![0-9.]){_V4}(?![0-9.])"
)
_SCAN_RE = re.compile(_SCAN)


def _validate_candidate(cand: str):
    """Try to parse a scanner candidate, trimming trailing punctuation."""
    for attempt in (cand, cand.rstrip(".:")):
        if not attempt:
            continue
        try:
            return ipaddress.ip_address(attempt)
        except ValueError:
            continue
    return None


@functools.lru_cache(maxsize=32)
def _extract_row_fn(
    only_public: bool,
    ignore_private: bool,
    ignore_loopback: bool,
    ignore_broadcast: bool,
):
    """Per-flag extraction closure, cached per Python worker — the Spark
    analog of the reference's per-flag-mask extractor cache
    (reference ``src/iptools.rs:12-58``).  The reference kernel of
    the native ``ipv6=True`` path: it backs the ``pis_extract_*_v6``
    SQL-text functions and the property suite."""
    drop_priv = only_public or ignore_private
    drop_loop = only_public or ignore_loopback
    drop_bcast = only_public or ignore_broadcast

    def keep(addr) -> bool:
        if addr.version == 4:
            n = int(addr)
            # reference is_private = RFC1918 only (src/iptools.rs:70-79)
            if drop_priv and (
                (n >> 24) == 10 or (n >> 20) == 0xAC1 or (n >> 16) == 0xC0A8
            ):
                return False
            if drop_loop and (n >> 24) == 127:
                return False
            if drop_bcast and n == _MAX_U32:
                return False
        else:
            # v6: private == ULA fc00::/7 (/root/reference/src/iptools.rs:245-247)
            if drop_priv and (int(addr) >> 121) == (0xFC00 >> 9):
                return False
            if drop_loop and int(addr) == 1:
                return False
        return True

    def canon(addr) -> str:
        # Rust std Display keeps the dotted tail for v4-mapped IPv6
        # ('::ffff:10.0.0.1'); Python renders hex groups — match the
        # reference (/root/reference/src/iptools.rs:62 canonicalizes
        # via IpAddr Display)
        if addr.version == 6:
            mapped = addr.ipv4_mapped
            if mapped is not None:
                return f"::ffff:{mapped}"
        return str(addr)

    def run(text: str) -> list[str]:
        found: list[str] = []
        for m in _SCAN_RE.finditer(text):
            cand = m.group()
            if cand.startswith("["):
                cand = cand[1:-1]
            addr = _validate_candidate(cand)
            if addr is None or not keep(addr):
                continue
            found.append(canon(addr))
        return found

    return run


def _extract_udf_v6(
    only_public: bool,
    ignore_private: bool,
    ignore_loopback: bool,
    ignore_broadcast: bool,
):
    flags = (only_public, ignore_private, ignore_loopback, ignore_broadcast)

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(s: pd.Series) -> pd.Series:
        run = _extract_row_fn(*flags)
        refang = re.compile(r"\[\.\]|\(\.\)|\[:\]|\(:\)")

        def one(t):
            if t is None:
                return None
            return run(refang.sub(lambda m: "." if "." in m.group() else ":", t))

        return s.map(one)

    return _udf


def _v6_canon(h: Column) -> Column:
    """Hex form -> text as Rust's ``IpAddr`` Display writes it: RFC 5952,
    except that v4-mapped addresses keep a dotted tail
    (``::ffff:10.0.0.1``; reference ``src/iptools.rs:62``)."""
    return F.when(
        h.startswith(_V4_MAPPED_HEX),
        F.concat(F.lit("::ffff:"), _hex_to_quad(F.substring(h, 25, 8))),
    ).otherwise(_hex_to_v6_text(h))


def _extract_v6(c: Column, keep4, keep6) -> Column:
    """Scan the refanged text with ``_SCAN``; per candidate drop the
    brackets, validate (retrying once with trailing ``.``/``:`` trimmed),
    filter with ``keep4``/``keep6`` and canonicalize — all JVM-side."""
    cands = F.regexp_extract_all(_refang(c, v6=True), F.lit(_SCAN), 0)

    def valid(m: Column) -> Column:
        x = F.when(
            m.startswith("["), F.substring(m, F.lit(2), F.length(m) - 2)
        ).otherwise(m)
        t = F.regexp_replace(x, r"[.:]+\z", "")
        return F.when(x.rlike(VALID_ANCHORED), x).when(t.rlike(VALID_ANCHORED), t)

    def kept(x: Column) -> Column:
        return F.when(
            x.contains(":"),
            _let(_v6_hex_unchecked(x), lambda h: F.when(keep6(h), _v6_canon(h))),
        ).otherwise(_let(_quad_num(x), lambda n: F.when(keep4(n), x)))

    ips = F.filter(F.transform(cands, valid), lambda x: x.isNotNull())
    return F.filter(F.transform(ips, kept), lambda x: x.isNotNull())


def extract_ips(
    expr: Column | str,
    ipv6: bool = False,
    only_public: bool = False,
    ignore_private: bool = False,
    ignore_loopback: bool = False,
    ignore_broadcast: bool = False,
) -> Column:
    """Extract all IP addresses from free text (defanged ``192[.]168[.]1[.]1``,
    bracketed ``[2001:db8::1]:443`` and port-suffixed ``1.2.3.4:80`` forms
    included), returning canonical strings in order of appearance.

    null -> null; no matches -> empty list
    (/root/reference/src/iptools.rs:186-220, tests/test_iptools.py:174-367).

    Both paths run JVM-side.  The default IPv4-only path is
    regexp_replace + regexp_extract_all + higher-order filter;
    ``ipv6=True`` scans with ``_SCAN`` and canonicalizes IPv6 through
    the native hex codec.
    """
    c = _col(expr)
    keep4, keep6 = _keep_flags(
        only_public, ignore_private, ignore_loopback, ignore_broadcast
    )
    if ipv6:
        return _extract_v6(c, keep4, keep6)
    refanged = _refang(c, v6=False)
    arr = F.regexp_extract_all(refanged, F.lit(_V4_CAND), 1)
    if only_public or ignore_private or ignore_loopback or ignore_broadcast:
        arr = F.filter(arr, lambda x: keep4(_quad_num(x)))
    # Native no-candidate prefilter: any extractable IPv4 needs a
    # digit.digit bigram in the REFANGED text, which can only come from
    # "d.d", "d[.]d" or "d(.)d" in the original — one cheap early-exit
    # rlike over the original column
    # (probing the original, not `refanged`, keeps the refang
    # subexpression out of the probe branch so it is never computed
    # twice).  CASE WHEN branches evaluate lazily in codegen, so rows
    # with no candidate skip BOTH the refang copy and the full
    # candidate scan — on real source corpora most rows are IP-free
    # and extraction leads every pipeline.
    has_cand = c.rlike(r"[0-9](\.|\[\.\]|\(\.\))[0-9]")
    arr = F.when(has_cand, arr).otherwise(F.array().cast(ArrayType(StringType())))
    return F.when(c.isNull(), F.lit(None).cast(ArrayType(StringType()))).otherwise(
        arr
    )


def extract_public_ips(expr: Column | str, ipv6: bool = False) -> Column:
    """Sugar: ``extract_ips(only_public=True)``
    (/root/reference/polars_iptools/iptools.py:393-427)."""
    return extract_ips(expr, ipv6=ipv6, only_public=True)


def extract_private_ips(expr: Column | str, ipv6: bool = False) -> Column:
    """Extract then keep only private IPs: RFC-1918 v4, ULA ``fc00::/7`` v6.

    Base extractor runs with ignore_loopback+ignore_broadcast like the
    reference (/root/reference/src/iptools.rs:223-259).
    """
    c = _col(expr)
    if ipv6:
        return _extract_v6(c, _is_private_num, _is_ula)
    base = extract_ips(c, ignore_loopback=True, ignore_broadcast=True)
    kept = F.filter(base, lambda x: _is_private_num(_quad_num(x)))
    return F.when(c.isNull(), F.lit(None).cast(ArrayType(StringType()))).otherwise(
        kept
    )


def extract_all_ips(expr: Column | str, **kwargs) -> Column:
    """Deprecated alias of :func:`extract_ips`
    (/root/reference/polars_iptools/iptools.py:477-484)."""
    warnings.warn(
        "extract_all_ips is deprecated, use extract_ips instead",
        DeprecationWarning,
        stacklevel=2,
    )
    return extract_ips(expr, **kwargs)
