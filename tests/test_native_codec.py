"""The native IPv6 codec against the pandas reference kernels.

``to_address``, ``to_string``, mixed-family ``is_in`` and IPv6
extraction are Catalyst expressions; the pandas kernels they replaced
stay as the ``pis_*`` SQL-text functions.  Each hypothesis example runs
both in ONE Spark job over generated inputs and requires identical
rows.  Generated text carries no ``%zone`` suffix: Python's
``ipaddress`` accepts scope ids while the native validator, like the
reference's Rust parser, rejects them.
"""

import ipaddress

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.core.rdd import CloudPickleSerializer

import polars_iptools_spark as ip
from polars_iptools_spark.functions import geoip, iptools

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# -- strategies ---------------------------------------------------------

_octet = st.integers(0, 255)
_v4 = st.builds(lambda a, b, c, d: f"{a}.{b}.{c}.{d}", _octet, _octet, _octet, _octet)
_group = st.one_of(st.just(0), st.just(0), st.integers(0, 0xFFFF))


@st.composite
def _v6_text(draw):
    """IPv6 text with ``::`` at any position and of any length (zero
    groups included, which is invalid), random leading zeros and case,
    and an optional dotted-quad tail."""
    dotted = draw(st.booleans())
    units = []
    for g in draw(st.lists(_group, min_size=6 if dotted else 8, max_size=6 if dotted else 8)):
        t = format(g, "x")
        t = "0" * draw(st.integers(0, 4 - len(t))) + t
        units.append(t.upper() if draw(st.booleans()) else t)
    if dotted:
        units.append(draw(_v4))
    if draw(st.booleans()):
        start = draw(st.integers(0, len(units)))
        length = draw(st.integers(0, len(units) - start))
        return ":".join(units[:start]) + "::" + ":".join(units[start + length:])
    return ":".join(units)


_v4_mapped = st.one_of(
    st.builds(lambda v4, f: f"::{f}:{v4}", _v4, st.sampled_from(["ffff", "FFFF", "0ffff"])),
    st.builds(lambda v4: f"0:0:0:0:0:ffff:{v4}", _v4),
    st.builds(lambda v: str(ipaddress.IPv6Address((0xFFFF << 32) | v)), st.integers(0, 2**32 - 1)),
)
_v6_canonical = st.integers(0, 2**128 - 1).map(lambda v: str(ipaddress.IPv6Address(v)))
_garbage = st.text("0123456789abcdefABCDEFg.:[] \n", max_size=24)
_ip_text = st.one_of(_v4, _v6_text(), _v4_mapped, _v6_canonical, _garbage, st.none())


@st.composite
def _sixteen(draw):
    """16 bytes biased to zero runs and the v4-mapped prefix."""
    groups = draw(st.lists(_group, min_size=8, max_size=8))
    b = b"".join(g.to_bytes(2, "big") for g in groups)
    if draw(st.booleans()):
        b = b"\x00" * 10 + b"\xff\xff" + b[12:]
    return b


_binary = st.one_of(
    st.binary(min_size=4, max_size=4),
    st.binary(min_size=16, max_size=16),
    _sixteen(),
    st.binary(max_size=20),
    st.none(),
)
_u32 = st.one_of(
    st.integers(0, 2**32 - 1),
    st.integers(-(2**40), 2**40),
    st.sampled_from([0, 2**32 - 1, 2**32, -1]),
    st.none(),
)


def _defang(s: str, how: int) -> str:
    if how == 1:
        return s.replace(".", "[.]")
    if how == 2:
        return s.replace(".", "(.)").replace(":", "[:]")
    if how == 3:
        return s.replace(":", "(:)")
    return s


@st.composite
def _indicator(draw):
    """One token of indicator text: an address (any family or form),
    possibly defanged, bracketed with a port, port-suffixed or followed
    by punctuation."""
    addr = draw(st.one_of(_v4, _v6_text(), _v4_mapped, _v6_canonical))
    form = draw(st.integers(0, 4))
    if form == 1:
        addr = f"[{addr}]:{draw(st.integers(1, 65535))}"
    elif form == 2:
        addr = f"{addr}:{draw(st.integers(1, 65535))}"
    elif form == 3:
        addr = addr + draw(st.sampled_from([".", ":", ",", ".:", "..", ")"]))
    return _defang(addr, draw(st.integers(0, 6)))


_text = st.one_of(
    st.lists(
        st.one_of(_indicator(), st.sampled_from(["log", "at", "x", "abc", "dead:beef", "1.2"])),
        max_size=6,
    ).flatmap(
        lambda toks: st.sampled_from([" ", ",", "", "\n", "/"]).map(lambda sep: sep.join(toks))
    ),
    _garbage,
    st.none(),
)

# -- typed round trip ---------------------------------------------------


@SETTINGS
@given(st.lists(_ip_text, max_size=60))
def test_typed_roundtrip_on_text_matches_kernels(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    addr = iptools._to_address_udf(F.col("s"))
    out = df.select(
        ip.to_address("s").alias("a"),
        addr.alias("a_ref"),
        ip.to_string(ip.to_address("s")).alias("t"),
        iptools._to_string_udf(addr).alias("t_ref"),
    ).collect()
    for v, r in zip(vals, out):
        assert (r.a, r.t) == (r.a_ref, r.t_ref), (v, r)


@SETTINGS
@given(st.lists(_binary, max_size=60))
def test_typed_roundtrip_on_binary_matches_kernels(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "b binary")
    out = df.select(
        ip.to_address("b").alias("a"),
        iptools._to_address_udf(F.col("b")).alias("a_ref"),
        ip.to_string("b").alias("t"),
        iptools._to_string_udf(F.col("b")).alias("t_ref"),
    ).collect()
    for v, r in zip(vals, out):
        assert (r.a, r.t) == (r.a_ref, r.t_ref), (v, r)


@SETTINGS
@given(st.lists(_u32, max_size=60))
def test_typed_roundtrip_on_u32_matches_kernels(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    out = df.select(
        ip.to_address("n").alias("a"),
        iptools._to_address_udf(F.col("n")).alias("a_ref"),
        ip.to_string("n").alias("t"),
        iptools._to_string_udf(F.col("n")).alias("t_ref"),
    ).collect()
    for v, r in zip(vals, out):
        assert (r.a, r.t) == (r.a_ref, r.t_ref), (v, r)


def test_to_address_udf_keeps_trailing_nul_bytes(spark):
    """The pandas kernel returns all 16 bytes of keys that end in NULs
    (an ``|S16`` element of the key matrix would drop them)."""
    mapped = bytes(10) + b"\xff\xff"
    df = spark.createDataFrame(
        [("::", bytes(16)), ("0.0.0.0", bytes(4)), ("10.0.0.0", b"\n" + bytes(3))],
        "s string, b binary",
    )
    got = df.select(
        iptools._to_address_udf("s").alias("a"), iptools._to_address_udf("b").alias("ab")
    ).collect()
    want = [bytes(16), mapped + bytes(4), mapped + b"\n" + bytes(3)]
    assert [bytes(r.a) for r in got] == want
    assert [bytes(r.ab) for r in got] == want


# -- is_in over mixed-family sets ----------------------------------------

_v4_cidr = st.builds(
    lambda a, b, p: f"{a}.{b}.0.0/{p}", _octet, _octet, st.integers(0, 32)
)
_v6_cidr = st.builds(
    lambda v, p: f"{ipaddress.IPv6Address(v)}/{p}",
    st.one_of(st.integers(0, 2**128 - 1), st.integers(0, 2**48).map(lambda v: (0xFFFF << 32) | v)),
    st.integers(0, 128),
)


@SETTINGS
@given(
    st.lists(st.one_of(_v4_cidr, _v6_cidr), min_size=1, max_size=20),
    st.lists(_ip_text, max_size=60),
)
def test_mixed_is_in_matches_kernel(spark, cidrs, vals):
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    out = df.select(
        ip.is_in("s", cidrs).alias("native"),
        ip.is_in("s", cidrs, _force_udf=True).alias("udf"),
    ).collect()
    for v, r in zip(vals, out):
        assert r.native == r.udf, (v, cidrs, r)


@SETTINGS
@given(
    st.lists(st.one_of(_v4_cidr, _v6_cidr), min_size=1, max_size=20),
    st.lists(st.tuples(_binary, _u32), max_size=60),
)
def test_typed_is_in_matches_kernel(spark, cidrs, vals):
    """Binary and bigint columns: 4-byte and v4-mapped 16-byte values
    and u32 integers check the v4 CIDRs, other 16-byte values the v6
    ones, on both paths."""
    df = spark.createDataFrame(vals, "b binary, n long")
    out = df.select(
        *[ip.is_in(c, cidrs).alias(f"{c}_native") for c in "bn"],
        *[ip.is_in(c, cidrs, _force_udf=True).alias(f"{c}_udf") for c in "bn"],
    ).collect()
    for v, r in zip(vals, out):
        assert (r.b_native, r.n_native) == (r.b_udf, r.n_udf), (v, cidrs, r)


# -- IPv6-capable extraction ---------------------------------------------

# (only_public, ignore_private, ignore_loopback, ignore_broadcast); the
# third is the base of extract_private_ips
_FLAGS = [
    (False, False, False, False),
    (True, False, False, False),
    (False, False, True, True),
    (False, True, False, False),
]


def _private_only(ips):
    """Reference filter of extract_private_ips: RFC 1918 v4, ULA v6."""
    if ips is None:
        return None
    keep = []
    for s in ips:
        a = ipaddress.ip_address(s)
        n = int(a)
        if a.version == 4:
            if (n >> 24) == 10 or (n >> 20) == 0xAC1 or (n >> 16) == 0xC0A8:
                keep.append(s)
        elif (n >> 121) == (0xFC00 >> 9):
            keep.append(s)
    return keep


@SETTINGS
@given(st.lists(_text, max_size=40))
def test_v6_extraction_matches_kernel(spark, texts):
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    cols = []
    for i, flags in enumerate(_FLAGS):
        cols.append(ip.extract_ips("t", True, *flags).alias(f"n{i}"))
        cols.append(iptools._extract_udf_v6(*flags)("t").alias(f"r{i}"))
    cols.append(ip.extract_private_ips("t", ipv6=True).alias("priv"))
    out = df.select(*cols).collect()
    for t, r in zip(texts, out):
        for i in range(len(_FLAGS)):
            assert r[f"n{i}"] == r[f"r{i}"], (t, _FLAGS[i], r)
        # private = base extraction without loopback/broadcast, then
        # RFC 1918 / ULA only
        assert r.priv == _private_only(r.r2), (t, r)


# -- broadcast-backed UDF commands stay small ----------------------------


def _command_bytes(spark, udf) -> int:
    """Size of the command PySpark ships for ``udf`` (what
    ``_prepare_for_python_RDD`` compares against its 1 MiB threshold)."""
    n = len(CloudPickleSerializer().dumps((udf.func, udf.returnType)))
    spark.sparkContext._pickled_broadcast_vars.clear()
    return n


def test_broadcast_udfs_do_not_pickle_their_tables(spark, tmp_path, monkeypatch):
    from polars_iptools_spark.sources.mmdb_synth import write_synthetic_geolite

    write_synthetic_geolite(
        tmp_path, n_city_networks=5000, n_city_records=500,
        n_asn_networks=5000, n_asn_records=200,
    )
    full = geoip.full_udf(reload_mmdb=True, db_dir=str(tmp_path))
    assert geoip._DB._bc is not None
    tables = len(CloudPickleSerializer().dumps(geoip._DB._tables))
    assert tables > 128 * 1024  # closing over them would show
    assert _command_bytes(spark, full) < 64 * 1024
    assert _command_bytes(spark, geoip.asn_udf(db_dir=str(tmp_path))) < 64 * 1024

    # is_in above the native limit, forced onto a broadcast
    monkeypatch.setattr(iptools, "_BROADCAST_THRESHOLD", 0)
    nets = [f"{a}.{b}.0.0/16" for a in range(1, 60) for b in range(0, 256, 4)]
    v4_iv, v6_iv = iptools._compile_networks(nets)
    assert len(v4_iv) * 32 > 64 * 1024
    assert _command_bytes(spark, iptools._is_in_udf(v4_iv, v6_iv)) < 64 * 1024
    df = spark.createDataFrame([("1.0.1.1",), ("1.1.1.1",), ("::1",)], "ip string")
    got = [r[0] for r in df.select(ip.is_in("ip", nets)).collect()]
    assert got == [True, False, False]
