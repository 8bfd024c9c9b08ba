"""Shared enrichment machinery: driver-side MMDB decode → flattened
column store → Spark broadcast → vectorized searchsorted lookup UDF.

The reference holds a process-global mmap'd MMDB reader
(/root/reference/src/maxmind.rs:69, src/spurdb.rs:76) and does one trie
walk per row.  Here the driver decodes the file once, flattens every
record into parallel per-field arrays (so executors never touch dicts
in the hot loop), and broadcasts the whole thing; each Arrow batch then
becomes keys through :func:`._ipparse.ip_keys` and resolves with one
vectorized ``np.searchsorted`` (:meth:`FlatTable.lookup_s16`), whatever
the input column's type.  ``reload`` unpersists and
re-broadcasts — the Spark analog of ``MaxMindDB::reload``
(/root/reference/src/maxmind.rs:161-168).
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np

from ..sources.mmdb import IntervalTable, load_interval_table
from . import _ipparse

DEFAULT_MMDB_PATHS = ["/usr/local/share/GeoIP", "/opt/homebrew/var/GeoIP"]


def resolve_mmdb_dir(env_var: str, explicit: str | None = None) -> Path:
    """Directory resolution per /root/reference/src/maxmind.rs:82-106:
    env var first, then the two conventional locations."""
    if explicit:
        return Path(explicit)
    if env_var in os.environ:
        return Path(os.environ[env_var])
    for p in DEFAULT_MMDB_PATHS:
        if Path(p).exists():
            return Path(p)
    raise FileNotFoundError(
        f"Error could not locate a directory for MMDB files\n"
        f"Hint: specify a directory with the environment variable {env_var}\n"
    )


# 1-element |S16 arrays, NOT scalars: numpy compares a byte-string
# array against a bytes scalar with C-string (first-NUL-terminated)
# semantics, which inverts the result for keys with interior NULs;
# array-vs-array comparison uses full fixed-width bytewise order
_V4_PFX_LO = np.array([b"\x00" * 10 + b"\xff\xff"], dtype="|S16")
_V4_PFX_HI = np.array([b"\x00" * 10 + b"\xff\xff" + b"\xff" * 4], dtype="|S16")


class FlatTable:
    """Interval keys + per-field flattened record columns.

    Row layout: records[0..n) from the MMDB, then one synthetic
    "not found" defaults row at index n, so lookups never branch —
    index -1 is remapped to the defaults row.

    The interval index is split by the v4-mapped ``::ffff:0:0/96``
    range: intervals intersecting it are stored (clamped into the /96)
    as **uint32** ``lo4``/``hi4`` arrays, everything not fully inside
    stays |S16 in ``lo6``/``hi6``.  Real GeoLite2 keys are ~all v4, so
    at production scale this cuts the broadcast ~4x on the dominant
    arrays (16B -> 4B per bound, int64 -> int32 record index) and the
    uint32 searchsorted runs ~1.8x faster than the 16-byte-string one.
    Intervals are disjoint, so at most one interval straddles each /96
    boundary; clamping keeps v4-key containment exact while the
    unclamped original in ``lo6`` serves non-v4-mapped keys.
    """

    def __init__(self, table: IntervalTable, fields: list[tuple[str, object, object]]):
        # fields: (name, extractor(record)->value, default_when_not_found)
        lo, hi, rec_idx = table.lo, table.hi, table.rec_idx
        ni = len(lo)
        if ni:
            m_lo = np.frombuffer(lo.tobytes(), dtype=np.uint8).reshape(ni, 16)
            m_hi = np.frombuffer(hi.tobytes(), dtype=np.uint8).reshape(ni, 16)
            inter = (lo <= _V4_PFX_HI) & (hi >= _V4_PFX_LO)
            lo4 = (
                np.ascontiguousarray(m_lo[inter, 12:16])
                .view(">u4")
                .ravel()
                .astype(np.uint32)
            )
            hi4 = (
                np.ascontiguousarray(m_hi[inter, 12:16])
                .view(">u4")
                .ravel()
                .astype(np.uint32)
            )
            # clamp the (at most one, disjointness) straddling bound
            np.putmask(lo4, lo[inter] < _V4_PFX_LO, np.uint32(0))
            np.putmask(hi4, hi[inter] > _V4_PFX_HI, np.uint32(0xFFFFFFFF))
            self.lo4, self.hi4 = lo4, hi4
            self.idx4 = rec_idx[inter].astype(np.int32)
            inside = _ipparse.is_v4_mapped(m_lo) & _ipparse.is_v4_mapped(m_hi)
            keep6 = ~inside
            self.lo6, self.hi6 = lo[keep6], hi[keep6]
            self.idx6 = rec_idx[keep6].astype(np.int32)
        else:
            self.lo4 = np.empty(0, dtype=np.uint32)
            self.hi4 = np.empty(0, dtype=np.uint32)
            self.idx4 = np.empty(0, dtype=np.int32)
            self.lo6 = np.empty(0, dtype="|S16")
            self.hi6 = np.empty(0, dtype="|S16")
            self.idx6 = np.empty(0, dtype=np.int32)
        n = len(table.records)
        self.n_records = n
        self.columns: dict[str, np.ndarray] = {}
        for name, extract, default in fields:
            # pure-int fields store as int64 so batch gathers stay
            # C-typed (object arrays force a per-row unbox downstream);
            # floats/strings/lists keep object storage because null-in
            # rows are later assigned None (float64 would turn them into
            # NaN, which Arrow serializes differently from null)
            dtype = (
                np.int64
                if isinstance(default, int) and not isinstance(default, bool)
                else object
            )
            col = np.empty(n + 1, dtype=dtype)
            for i, rec in enumerate(table.records):
                col[i] = extract(rec)
            col[n] = default
            self.columns[name] = col

    def lookup_s16(self, keys: np.ndarray, valid: np.ndarray) -> np.ndarray:
        """Key matrix + valid mask from :func:`._ipparse.ip_keys` ->
        record row indices (the defaults row for misses and invalid
        keys); fully vectorized, no per-row objects.  ``keys`` is the
        (n, 16) uint8 matrix, or the same bytes as an ``|S16`` array.

        v4-mapped keys take the uint32 index; the rest take the |S16
        remainder.  numpy ``|S16`` strips trailing NUL bytes, so a key
        like ``...ffff 0a000000`` compares as its 12-byte prefix — that
        is SAFE on the remainder path: with NUL the minimal byte,
        lexicographic order over NUL-stripped strings is identical to
        order over the full 16-byte forms (a prefix sorts exactly where
        its zero-padded form would), and ``self.lo6``/``self.hi6`` are
        |S16 too, so both sides of every searchsorted comparison use
        the same convention.
        """
        n = len(keys)
        rows = np.full(n, self.n_records, dtype=np.int64)
        if n == 0 or not valid.any():
            return rows
        m = np.ascontiguousarray(keys).view(np.uint8).reshape(n, 16)
        is4 = _ipparse.is_v4_mapped(m) & valid
        rest = valid & ~is4
        for mask, k, lo, hi, idx in (
            (is4, np.ascontiguousarray(m[is4, 12:16]).view(">u4").ravel(),
             self.lo4, self.hi4, self.idx4),
            (rest, m[rest].view("|S16").ravel(), self.lo6, self.hi6, self.idx6),
        ):
            if len(k) and len(lo):
                pos = _ipparse.interval_pos(lo, hi, k.astype(lo.dtype, copy=False))
                rows[mask] = np.where(pos >= 0, idx[pos], self.n_records)
        return rows


class BroadcastedDB:
    """Lazy singleton: build FlatTables once per directory and ship via
    SparkContext.broadcast when a session is active; plain closure
    capture otherwise (tests, driver-local).

    An MMDB file replaced in-place in the SAME directory is served from
    the cached tables until the caller passes ``reload_mmdb=True`` —
    deliberately matching the reference's explicit ``MaxMindDB::reload``
    semantics (/root/reference/src/maxmind.rs:161-168), where updates
    are an explicit operation, never an mtime side effect."""

    def __init__(self, builder):
        self._builder = builder  # (db_dir) -> dict[str, FlatTable]
        self._cache_key = None
        self._tables = None
        self._bc = None

    def get(self, db_dir: Path, reload: bool = False):
        key = str(db_dir)
        if reload or self._tables is None or self._cache_key != key:
            self._tables = self._builder(db_dir)
            self._cache_key = key
            if self._bc is not None:
                try:
                    self._bc.unpersist()
                except Exception:
                    pass
                self._bc = None
        return self._tables

    def broadcast(self, spark, db_dir: Path, reload: bool = False):
        tables = self.get(db_dir, reload=reload)
        if self._bc is None and spark is not None:
            try:
                self._bc = spark.sparkContext.broadcast(tables)
            except Exception:
                self._bc = None
        return self._bc, tables


def shipped(bc, value):
    """Zero-argument getter for a UDF to close over: reads the broadcast
    when there is one, else returns ``value`` by closure capture.  A UDF
    that closed over both would pickle ``value`` into every command even
    when the broadcast carries it (a 1.09 MB ``geoip.full`` command,
    above PySpark's 1 MiB threshold for broadcasting the command too)."""
    if bc is not None:
        return lambda: bc.value
    return lambda: value


# -- field extractors --------------------------------------------------------


def _names_en(d: dict | None) -> str:
    if not d:
        return ""
    return (d.get("names") or {}).get("en", "") or ""


def build_geoip_tables(db_dir: Path) -> dict[str, FlatTable]:
    """ASN + City flat tables; field set per
    /root/reference/src/maxmind.rs:10-28 (English names, first
    subdivision only per :224-236)."""
    asn_path = db_dir / "GeoLite2-ASN.mmdb"
    city_path = db_dir / "GeoLite2-City.mmdb"
    for p in (asn_path, city_path):
        if not p.exists():
            raise FileNotFoundError(
                f"Could not open MMDB file from {p}\n"
                "Hint: specify a directory with the environment variable "
                "MAXMIND_MMDB_DIR\n"
            )
    def _asn_str(r) -> str:
        # "AS{num} {org}", no trailing space when org absent
        # (/root/reference/src/geoip.rs:85-91); not-found -> ""
        num = int(r.get("autonomous_system_number", 0))
        if num == 0:
            return ""
        org = r.get("autonomous_system_organization", "") or ""
        return f"AS{num} {org}" if org else f"AS{num}"

    asn_fields = [
        ("asnnum", lambda r: int(r.get("autonomous_system_number", 0)), 0),
        ("asnorg", lambda r: r.get("autonomous_system_organization", "") or "", ""),
        ("asn_str", _asn_str, ""),
    ]

    def _subdiv(r, key):
        subs = r.get("subdivisions") or []
        if not subs:
            return ""
        first = subs[0]
        return _names_en(first) if key == "name" else (first.get("iso_code", "") or "")

    city_fields = [
        ("city", lambda r: _names_en(r.get("city")), ""),
        ("continent", lambda r: _names_en(r.get("continent")), ""),
        ("country", lambda r: _names_en(r.get("country")), ""),
        ("country_iso", lambda r: (r.get("country") or {}).get("iso_code", "") or "", ""),
        ("latitude", lambda r: float((r.get("location") or {}).get("latitude", 0.0)), 0.0),
        ("longitude", lambda r: float((r.get("location") or {}).get("longitude", 0.0)), 0.0),
        ("postalcode", lambda r: (r.get("postal") or {}).get("code", "") or "", ""),
        ("subdivision", lambda r: _subdiv(r, "name"), ""),
        ("subdivision_iso", lambda r: _subdiv(r, "iso"), ""),
        ("timezone", lambda r: (r.get("location") or {}).get("time_zone", "") or "", ""),
    ]
    return {
        "asn": FlatTable(load_interval_table(asn_path), asn_fields),
        "city": FlatTable(load_interval_table(city_path), city_fields),
    }


def build_spur_tables(db_dir: Path) -> dict[str, FlatTable]:
    """Spur anonymity-feed table; camelCase source keys per
    /root/reference/src/spurdb.rs:61-71, defaults per :183."""
    spur_path = db_dir / "spur.mmdb"
    if not spur_path.exists():
        raise FileNotFoundError(
            f"Could not open Spur MMDB file from {spur_path}\n"
            "Hint: specify a directory with the environment variable "
            "SPUR_MMDB_DIR\n"
        )
    fields = [
        ("client_count", lambda r: float(r.get("clientCount", 0.0) or 0.0), 0.0),
        ("infrastructure", lambda r: r.get("infrastructure", "") or "", ""),
        ("location_city", lambda r: r.get("locationCity", "") or "", ""),
        ("location_country", lambda r: r.get("locationCountry", "") or "", ""),
        ("location_state", lambda r: r.get("locationState", "") or "", ""),
        ("services", lambda r: list(r.get("services") or []), []),
        ("tag", lambda r: r.get("tag", "") or "", ""),
    ]
    return {"spur": FlatTable(load_interval_table(spur_path), fields)}
