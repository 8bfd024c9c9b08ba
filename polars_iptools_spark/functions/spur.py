"""Spur anonymity-feed enrichment — ``spur.full``.

Semantics per /root/reference/src/spur.rs:20-52: null/invalid ->
all-null struct (:41-44); valid-not-found -> defaults client_count 0.0,
strings "", services [] (src/spurdb.rs:183).  Field order per
src/spurdb.rs:16-28.  Requires ``spur.mmdb`` under SPUR_MMDB_DIR.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F

from ..schemas import SPUR_SCHEMA
from . import _enrich
from ._ipparse import ip_keys

__all__ = ["full"]

_DB = _enrich.BroadcastedDB(_enrich.build_spur_tables)


def full_udf(reload_mmdb: bool = False, db_dir: str | None = None):
    """The Spur-context pandas UDF itself (for ``spark.udf.register`` /
    SQL-text use); :func:`full` is the Column-level sugar over it."""
    resolved = _enrich.resolve_mmdb_dir("SPUR_MMDB_DIR", db_dir)
    spark = SparkSession.getActiveSession()
    load = _enrich.shipped(*_DB.broadcast(spark, resolved, reload=reload_mmdb))

    @F.pandas_udf(SPUR_SCHEMA)
    def _spur_udf(s: pd.Series) -> pd.DataFrame:
        t = load()["spur"]
        keys, mask, _ = ip_keys(s)
        rows = t.lookup_s16(keys, mask)
        data = {name: col[rows] for name, col in t.columns.items()}
        data["client_count"] = pd.array(
            [float(v) for v in data["client_count"]], dtype="Float32"
        )
        # null/invalid -> all-null struct fields, masked on the gathered
        # copies directly (same r07 cleanup as geoip.full_udf — the
        # row-wise .loc walked every column through pandas alignment)
        bad = ~mask
        if bad.any():
            data["client_count"][bad] = pd.NA
            for name, col in data.items():
                if name != "client_count":
                    col[bad] = None
        return pd.DataFrame(data, copy=False)

    return _spur_udf


def full(expr: Column | str, reload_mmdb: bool = False, db_dir: str | None = None) -> Column:
    c = F.col(expr) if isinstance(expr, str) else expr
    return full_udf(reload_mmdb, db_dir)(c)
