"""MaxMind GeoLite2 enrichment — ``geoip.asn`` and ``geoip.full``.

Semantics pinned to /root/reference/src/geoip.rs:
- ``asn``: null -> null, invalid -> "", valid-not-in-db -> ""
  (src/geoip.rs:73-93); format "AS{num} {org}" with no trailing space
  when the org is absent (src/geoip.rs:85-91).
- ``full``: null/invalid -> all-null struct (src/geoip.rs:41-44);
  valid-not-found -> defaults asnnum=0, strings "", lat/lon 0.0
  (src/maxmind.rs:47-64). Field order per src/maxmind.rs:15-26.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from ..schemas import GEOIP_SCHEMA
from . import _enrich
from ._ipparse import ip_keys

__all__ = ["asn", "full"]

_DB = _enrich.BroadcastedDB(_enrich.build_geoip_tables)


def _tables_getter(reload_mmdb: bool, db_dir: str | None):
    """Getter of the decoded tables, closing over the broadcast alone
    when there is one."""
    resolved = _enrich.resolve_mmdb_dir("MAXMIND_MMDB_DIR", db_dir)
    spark = SparkSession.getActiveSession()
    return _enrich.shipped(*_DB.broadcast(spark, resolved, reload=reload_mmdb))


def _col(expr):
    return F.col(expr) if isinstance(expr, str) else expr


def asn_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The ASN-lookup pandas UDF itself (for ``spark.udf.register`` /
    SQL-text use); :func:`asn` is the Column-level sugar over it."""
    load = _tables_getter(reload_mmdb, db_dir)

    @F.pandas_udf(StringType())
    def _asn_udf(s: pd.Series) -> pd.Series:
        t = load()["asn"]
        keys, mask, _ = ip_keys(s)
        rows = t.lookup_s16(keys, mask)
        # strings pre-formatted once per record at table build; the
        # batch path is a single vectorized gather
        out = t.columns["asn_str"][rows].copy()
        # invalid (non-null unparseable) -> "" ; null stays null
        null_in = s.isna().to_numpy()
        out[~mask & ~null_in] = ""
        out[null_in] = None
        return pd.Series(out)

    return _asn_udf


def asn(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    """``"AS{num} {org}"`` string from GeoLite2-ASN.

    ``db_dir`` overrides the MAXMIND_MMDB_DIR resolution (test seam).
    """
    return asn_udf(reload_mmdb, db_dir)(_col(expr))


def full_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The 12-field geolocation pandas UDF itself (for
    ``spark.udf.register`` / SQL-text use); :func:`full` is the
    Column-level sugar over it."""
    load = _tables_getter(reload_mmdb, db_dir)

    @F.pandas_udf(GEOIP_SCHEMA)
    def _full_udf(s: pd.Series) -> pd.DataFrame:
        tabs = load()
        ta, tc = tabs["asn"], tabs["city"]
        keys, mask, _ = ip_keys(s)
        rows_a = ta.lookup_s16(keys, mask)
        rows_c = tc.lookup_s16(keys, mask)
        data = {}
        # asnnum is stored int64 in the flat table — typed gather, no
        # per-row unboxing
        data["asnnum"] = pd.array(ta.columns["asnnum"][rows_a], dtype="Int64")
        data["asnorg"] = ta.columns["asnorg"][rows_a]
        for name in (
            "city",
            "continent",
            "country",
            "country_iso",
            "latitude",
            "longitude",
            "postalcode",
            "subdivision",
            "subdivision_iso",
            "timezone",
        ):
            data[name] = tc.columns[name][rows_c]
        # null/invalid input -> all-null struct fields.  Masked directly
        # on the gathered arrays (each fancy-index gather above is a
        # fresh copy, safe to mutate) — the previous row-wise
        # ``df.loc[bad, :] = None`` re-walked all 12 columns through the
        # pandas alignment machinery per batch (r07 profile: ~6-20 ms of
        # a ~110 ms kernel).
        bad = ~mask
        if bad.any():
            data["asnnum"][bad] = pd.NA
            for name, col in data.items():
                if name != "asnnum":
                    col[bad] = None
        return pd.DataFrame(data, copy=False)

    return _full_udf


def full(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    """12-field geolocation struct from GeoLite2-ASN + GeoLite2-City."""
    return full_udf(reload_mmdb, db_dir)(_col(expr))
