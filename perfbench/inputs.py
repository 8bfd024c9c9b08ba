"""Seeded inputs for the benchmark workloads and the oracles that check
the package's outputs against them.

Everything here is derived from the ``--seed`` argument with numpy's
PCG64 generator, so the same seed gives byte-identical inputs.  The
oracles never call the package's lookup, parse or extraction code:

* IP column functions are checked against DuckDB SQL over the same
  parquet files (regex validity, dotted-quad arithmetic, RFC 1918 and
  CIDR range tests, token-level extraction).
* GeoIP fields are checked against the synthetic GeoLite tiling
  arithmetic in ``sources.mmdb_synth`` (``expected_city_record_index``
  and its v6 twin), which recomputes the record of an address without
  reading the MMDB.
* Linkage clusters are checked by pairwise F1 against the corpus
  generator's entity labels.
* Near-duplicate pairs are checked against the pairs the generator
  planted, and embedding pairs by a numpy cosine.
"""

from __future__ import annotations

import ipaddress
import re
from pathlib import Path

import numpy as np
import pandas as pd

# Synthetic GeoLite2 pair: the same network tiling for City and ASN, so
# one index covers both files.  v4 networks 0..N-1 tile 0.0.0.0 upward
# (about 2.155.x.x for 20k networks); v6 networks tile 2600::/12 upward.
MMDB_SIZES = {
    "n_city_networks": 20_000,
    "n_city_records": 4_000,
    "n_asn_networks": 20_000,
    "n_asn_records": 2_000,
    "n_city_v6_networks": 500,
    "n_asn_v6_networks": 500,
}


def mmdb_key() -> str:
    return "geolite-" + "-".join(str(v) for v in MMDB_SIZES.values())


def v4_db_end() -> int:
    """First v4 address after the last tiled network."""
    from polars_iptools_spark.sources import mmdb_synth

    n = MMDB_SIZES["n_city_networks"]
    lo, hi = 0, 1 << 32
    while lo < hi:  # the tiling is monotone in the address
        mid = (lo + hi) // 2
        if mmdb_synth.expected_city_record_index(mid, n, 1) is None:
            hi = mid
        else:
            lo = mid + 1
    return lo


def _v6_in_db(rng: np.random.Generator, k: int) -> list[str]:
    from polars_iptools_spark.sources import mmdb_synth as ms

    s = MMDB_SIZES
    # n networks fill about n / 3.75 /29 blocks of 2600::/12; draw from
    # one block more and keep the addresses the tiling covers
    span_blocks = s["n_city_v6_networks"] * 4 // 15 + 1
    out: list[str] = []
    while len(out) < k:
        blk = rng.integers(0, span_blocks, size=k).tolist()
        hi = rng.integers(0, 1 << 35, size=k, dtype=np.uint64).tolist()
        lo = rng.integers(0, 1 << 64, size=k, dtype=np.uint64).tolist()
        for b, h, l in zip(blk, hi, lo):
            addr = ms.V6_BASE + (b << 99) + (h << 64) + l
            if ms.expected_city_v6_record_index(
                addr, s["n_city_networks"], s["n_city_v6_networks"], 1
            ) is not None:
                out.append(str(ipaddress.IPv6Address(addr)))
    return out[:k]


def _v6_random(rng: np.random.Generator, k: int, prefix16: int) -> list[str]:
    hi = rng.integers(0, 1 << 48, size=k, dtype=np.uint64).tolist()
    lo = rng.integers(0, 1 << 63, size=k, dtype=np.uint64).tolist()
    return [
        str(ipaddress.IPv6Address((prefix16 << 112) | (h << 64) | l))
        for h, l in zip(hi, lo)
    ]


def _quads(nums: np.ndarray) -> list[str]:
    return [f"{n >> 24}.{(n >> 16) & 255}.{(n >> 8) & 255}.{n & 255}" for n in nums.tolist()]


_PRIVATE = [(10 << 24, 1 << 24), (0xAC10 << 16, 1 << 20), (0xC0A8 << 16, 1 << 16)]
_RESERVED = [(10 << 24, 11 << 24), (0xAC10 << 16, 0xAC20 << 16),
             (0xC0A8 << 16, 0xC0A9 << 16), (127 << 24, 128 << 24)]


def _public_v4(rng: np.random.Generator, k: int, lo: int) -> np.ndarray:
    """k addresses in [lo, 2^32 - 1) outside RFC 1918 and 127/8."""
    out = rng.integers(lo, (1 << 32) - 1, size=2 * k + 64, dtype=np.int64)
    keep = np.ones(len(out), dtype=bool)
    for a, b in _RESERVED:
        keep &= ~((out >= a) & (out < b))
    return out[keep][:k]


def _private_v4(rng: np.random.Generator, k: int) -> np.ndarray:
    which = rng.integers(0, 3, size=k)
    base = np.array([p[0] for p in _PRIVATE], dtype=np.int64)[which]
    size = np.array([p[1] for p in _PRIVATE], dtype=np.int64)[which]
    return base + (rng.integers(0, 1 << 24, size=k, dtype=np.int64) % size)


_INVALID = ["999.1.2.3", "not an ip", "1.2.3", "1.2.3.4.5", "256.1.1.1", "::g", "", "12.a.3.4"]

# share of each kind in the IP column (stated in every run's output)
IP_MIX = {
    "v4_in_db": 0.40,
    "v4_public_outside_db": 0.20,
    "v4_private": 0.10,
    "v6_in_db": 0.05,
    "v6_outside_db": 0.05,
    "invalid": 0.10,
    "null": 0.10,
}


def ip_column(seed: int, n: int) -> pd.DataFrame:
    """(rid, ip): the seeded IP mix of ``IP_MIX``, shuffled."""
    rng = np.random.default_rng([seed, 1])
    counts = {k: int(round(v * n)) for k, v in IP_MIX.items()}
    counts["v4_in_db"] += n - sum(counts.values())
    end = v4_db_end()
    vals: list = []
    for kind, k in counts.items():
        if kind == "v4_in_db":
            part = _quads(rng.integers(0, end, size=k, dtype=np.int64))
        elif kind == "v4_public_outside_db":
            part = _quads(_public_v4(rng, k, end))
        elif kind == "v4_private":
            part = _quads(_private_v4(rng, k))
        elif kind == "v6_in_db":
            part = _v6_in_db(rng, k)
        elif kind == "v6_outside_db":
            part = _v6_random(rng, k, 0x2A00)
        elif kind == "invalid":
            part = [_INVALID[i] for i in rng.integers(0, len(_INVALID), size=k)]
        else:
            part = [None] * k
        vals.extend(part)
    order = rng.permutation(n)
    return pd.DataFrame({
        "rid": np.arange(n, dtype=np.int64),
        "ip": np.array(vals, dtype=object)[order],
    })


_NOISE = ["retry", "backoff", "socket", "timeout", "gateway", "upstream",
          "beacon", "proxy", "handler", "config", "client", "resolver"]

# indicator tokens per text line: kind -> share of indicator draws
TEXT_MIX = {
    "v4_public": 0.30,
    "v4_public_defanged": 0.15,
    "v4_private": 0.15,
    "v4_loopback": 0.05,
    "v6_public": 0.15,
    "v6_public_bracketed": 0.10,
    "v6_ula": 0.10,
}


def text_column(seed: int, n: int) -> pd.DataFrame:
    """(rid, text): lines of noise words with 0-3 indicator tokens."""
    rng = np.random.default_rng([seed, 2])
    kinds = list(TEXT_MIX)
    p = np.array(list(TEXT_MIX.values()))
    n_ind = rng.integers(0, 4, size=n)
    total = int(n_ind.sum())
    draw = rng.choice(len(kinds), size=total, p=p / p.sum())
    pub = _quads(_public_v4(rng, total, 1 << 24))
    priv = _quads(_private_v4(rng, total))
    v6 = _v6_random(rng, total, 0x2600 + int(rng.integers(0, 16)))
    ula = _v6_random(rng, total, 0xFD00)
    ports = rng.integers(1, 65536, size=total)
    noise = rng.integers(0, len(_NOISE), size=(n, 6)).tolist()
    where = rng.integers(0, 7, size=total).tolist()
    texts = []
    j = 0
    for i in range(n):
        toks = [_NOISE[w] for w in noise[i]]
        for _ in range(n_ind[i]):
            kind = kinds[draw[j]]
            if kind == "v4_public":
                tok = pub[j]
            elif kind == "v4_public_defanged":
                tok = pub[j].replace(".", "[.]")
            elif kind == "v4_private":
                tok = priv[j]
            elif kind == "v4_loopback":
                tok = "127.0.0.1"
            elif kind == "v6_public":
                tok = v6[j]
            elif kind == "v6_public_bracketed":
                tok = f"[{v6[j]}]:{ports[j]}"
            else:
                tok = ula[j]
            toks.insert(where[j] % (len(toks) + 1), tok)
            j += 1
        texts.append(" ".join(toks))
    return pd.DataFrame({"rid": np.arange(n, dtype=np.int64), "text": texts})


# ---------------------------------------------------------------------------
# enrich oracle
# ---------------------------------------------------------------------------

_V4_RE = (
    "(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])"
    "(\\.(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}"
)
# the generated v6 strings are RFC 5952 text starting with a hex group
_V6_RE = "[0-9a-f]{1,4}(:[0-9a-f]{0,4}){2,7}"

_NUM = (
    "(CAST(string_split({c},'.')[1] AS BIGINT)*16777216 + "
    "CAST(string_split({c},'.')[2] AS BIGINT)*65536 + "
    "CAST(string_split({c},'.')[3] AS BIGINT)*256 + "
    "CAST(string_split({c},'.')[4] AS BIGINT))"
)
_PRIV = "({n} >> 24 = 10 OR {n} >> 20 = 2753 OR {n} >> 16 = 49320)"

# is_in network set: a v6 network keeps the membership test on the
# Arrow UDF path (an all-v4 set of <= 64 intervals compiles to JVM
# range tests instead)
IS_IN_NETWORKS = (
    ["8.8.8.0/24", "10.0.0.0/8", "100.64.0.0/10", "2600::/16"]
    + [f"{o}.0.0.0/8" for o in range(20, 60)]
)


def _is_in_sql() -> str:
    v4 = []
    v6 = []
    for net in IS_IN_NETWORKS:
        nw = ipaddress.ip_network(net)
        if nw.version == 4:
            v4.append(f"(num BETWEEN {int(nw.network_address)} AND {int(nw.broadcast_address)})")
        else:
            # the generated v6 text is canonical and its first group is
            # never zero, so a /16 is a prefix test
            v6.append(f"starts_with(ip, '{nw.exploded[:4]}:')")
    return (
        "CASE WHEN ip IS NULL THEN NULL "
        f"WHEN v4 THEN ({' OR '.join(v4)}) "
        f"WHEN v6 THEN ({' OR '.join(v6)}) ELSE NULL END"
    )


def enrich_oracle(ips_path: Path, texts_path: Path) -> dict[str, tuple]:
    """Expected aggregate of every enrich operation (same tuple shapes
    as the Spark aggregates in ``workloads.Enrich``)."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"""
        CREATE TEMP TABLE ips AS
        WITH t AS (
          SELECT ip,
                 coalesce(regexp_full_match(ip, '{_V4_RE}'), false) AS v4,
                 coalesce(NOT regexp_full_match(ip, '{_V4_RE}')
                          AND regexp_full_match(ip, '{_V6_RE}'), false) AS v6
          FROM read_parquet('{ips_path}'))
        SELECT *, CASE WHEN v4 THEN {_NUM.format(c='ip')} END AS num FROM t
        """)
        scalar = con.execute(f"""
        SELECT count(*) FILTER (WHERE v4 OR v6),
               count(*) FILTER (WHERE v4 AND {_PRIV.format(n='num')}),
               coalesce(sum(num), 0)
        FROM ips""").fetchone()
        typed = con.execute(
            "SELECT count(*) FILTER (WHERE v4 OR v6), count(*) FILTER (WHERE v4 OR v6) FROM ips"
        ).fetchone()
        is_in = con.execute(f"""
        SELECT count(*) FILTER (WHERE m), count(*) FILTER (WHERE NOT m)
        FROM (SELECT {_is_in_sql()} AS m FROM ips)""").fetchone()
        con.execute(f"""
        CREATE TEMP TABLE toks AS
        WITH tok AS (
          SELECT unnest(string_split(text, ' ')) AS tk FROM read_parquet('{texts_path}')),
        norm AS (
          SELECT CASE WHEN starts_with(tk, '[') THEN regexp_extract(tk, '^\\[([0-9a-f:]+)\\]', 1)
                      ELSE replace(tk, '[.]', '.') END AS t FROM tok),
        cls AS (
          SELECT t, regexp_full_match(t, '{_V4_RE}') AS v4,
                 regexp_full_match(t, '{_V6_RE}') AS v6 FROM norm)
        SELECT t,
               v4 AND NOT {_PRIV.format(n='n')} AND n >> 24 != 127 AND n != 4294967295 AS pub4,
               v6 AND NOT (starts_with(t, 'fc') OR starts_with(t, 'fd')) AND t != '::1' AS pub6
        FROM (SELECT *, CASE WHEN v4 THEN {_NUM.format(c='t')} END AS n FROM cls)
        """)
        ex4 = con.execute(
            "SELECT count(*), coalesce(sum(length(t)), 0) FROM toks WHERE pub4"
        ).fetchone()
        ex6 = con.execute(
            "SELECT count(*), coalesce(sum(length(t)), 0) FROM toks WHERE pub4 OR pub6"
        ).fetchone()
    finally:
        con.close()
    return {
        "scalar_native": tuple(int(x) for x in scalar),
        "typed_roundtrip": tuple(int(x) for x in typed),
        "is_in": tuple(int(x) for x in is_in),
        "extract_v4": tuple(int(x) for x in ex4),
        "extract_v6": tuple(int(x) for x in ex6),
    }


def geoip_oracle(ips: pd.DataFrame) -> tuple:
    """Expected (non-null rows, sum asnnum, sum latitude, sum city length)
    of ``geoip.full`` from the tiling arithmetic alone."""
    from polars_iptools_spark.sources import mmdb_synth as ms

    s = MMDB_SIZES
    asn_num = [ms.asn_record(j)["autonomous_system_number"] for j in range(s["n_asn_records"])]
    cities = [ms.city_record(j) for j in range(s["n_city_records"])]
    lat = [c["location"]["latitude"] for c in cities]
    clen = [len(c["city"]["names"]["en"]) for c in cities]
    n_rows = asn_sum = city_len = 0
    lat_sum = 0.0
    v4 = re.compile(_V4_RE)
    for ip in ips["ip"]:
        if ip is None:
            continue
        if v4.fullmatch(ip):
            o = ip.split(".")
            a, version = (int(o[0]) << 24) | (int(o[1]) << 16) | (int(o[2]) << 8) | int(o[3]), 4
        else:
            try:
                addr = ipaddress.IPv6Address(ip)
            except ValueError:
                continue
            a, version = int(addr), 6
        n_rows += 1
        if version == 4:
            ci = ms.expected_city_record_index(a, s["n_city_networks"], s["n_city_records"])
            ai = ms.expected_city_record_index(a, s["n_asn_networks"], s["n_asn_records"])
        else:
            ci = ms.expected_city_v6_record_index(
                a, s["n_city_networks"], s["n_city_v6_networks"], s["n_city_records"])
            ai = ms.expected_city_v6_record_index(
                a, s["n_asn_networks"], s["n_asn_v6_networks"], s["n_asn_records"])
        if ai is not None:
            asn_sum += asn_num[ai]
        if ci is not None:
            lat_sum += lat[ci]
            city_len += clen[ci]
    return (n_rows, asn_sum, lat_sum, city_len)


def pairwise_f1(pred: np.ndarray, truth: np.ndarray) -> float:
    """Pairwise F1 of a predicted clustering against truth labels over
    all record pairs, from the contingency table (no pair listing)."""
    df = pd.DataFrame({"c": pred, "e": truth})

    def pairs(sizes: pd.Series) -> int:
        n = sizes.to_numpy(np.int64)
        return int((n * (n - 1) // 2).sum())

    tp = pairs(df.groupby(["c", "e"]).size())
    pp = pairs(df.groupby("c").size())
    tt = pairs(df.groupby("e").size())
    precision = tp / pp if pp else 1.0
    recall = tp / tt if tt else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


# ---------------------------------------------------------------------------
# near-duplicate inputs
# ---------------------------------------------------------------------------

N_VOCAB = 2000


def documents(seed: int, n_docs: int, n_planted: int) -> tuple[pd.DataFrame, set]:
    """(doc_id, text) with ``n_planted`` near-duplicate pairs: the copy
    differs from its source in one of its 50 words."""
    rng = np.random.default_rng([seed, 3])
    n_base = n_docs - n_planted
    words = rng.integers(0, N_VOCAB, size=(n_base, 50))
    src = rng.choice(n_base, size=n_planted, replace=False)
    dup = words[src].copy()
    pos = rng.integers(0, 50, size=n_planted)
    dup[np.arange(n_planted), pos] = (dup[np.arange(n_planted), pos] + 1 + rng.integers(0, N_VOCAB - 1, size=n_planted)) % N_VOCAB
    allw = np.vstack([words, dup])
    texts = [" ".join(f"w{w}" for w in row) for row in allw.tolist()]
    planted = {(int(s), n_base + i) for i, s in enumerate(src.tolist())}
    return pd.DataFrame({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts}), planted


def embeddings(seed: int, n_vecs: int, dim: int, n_planted: int) -> tuple[pd.DataFrame, np.ndarray, set]:
    """(vec_id, embedding) Gaussian vectors plus ``n_planted`` copies
    perturbed to cosine >= ~0.99 of their source."""
    rng = np.random.default_rng([seed, 4])
    n_base = n_vecs - n_planted
    base = rng.standard_normal((n_base, dim)).astype(np.float32)
    src = rng.choice(n_base, size=n_planted, replace=False)
    dup = base[src] + 0.05 * rng.standard_normal((n_planted, dim)).astype(np.float32)
    m = np.vstack([base, dup])
    planted = {(int(s), n_base + i) for i, s in enumerate(src.tolist())}
    return pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64), "embedding": list(m)}), m, planted
