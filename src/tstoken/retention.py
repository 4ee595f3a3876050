"""Retention policies per tier (north rule: "retention policies").

Each tier keeps a sliding horizon of buckets. Expiry drops the whole
day `chunk` partitions below the cutoff without reading data; a cutoff
inside a day rewrites only the chunk it cuts (tableio.delete_where).
Fine tiers are short-lived, coarse tiers long-lived.
"""

from __future__ import annotations

import calendar
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .tableio import TableIO

# default horizons (None = keep forever)
DEFAULT_HORIZONS: dict[str, timedelta | None] = {
    "1m": timedelta(days=7),
    "1h": timedelta(days=90),
    "1d": None,
}


def retention_horizon(tier: str, now: datetime,
                      horizons: dict | None = None) -> datetime | None:
    h = (horizons or DEFAULT_HORIZONS).get(tier)
    return None if h is None else now - h


def apply_retention(io: TableIO, tier: str, now: datetime | None = None,
                    horizons: dict | None = None) -> int | None:
    """Delete expired buckets from rollup_<tier>; returns its snapshot
    id. A naive `now` is taken as UTC."""
    now = now or datetime.now(timezone.utc)
    cutoff = retention_horizon(tier, now, horizons)
    table = f"rollup_{tier}"
    if cutoff is None or not io.exists(table):
        return None
    cut = calendar.timegm(cutoff.utctimetuple())
    day, rest = divmod(cut, 86400)
    io.drop_partitions(table, "chunk", below=day)
    if rest:
        io.delete_where(table, f"bucket_ts < timestamp_seconds({cut})",
                        "chunk", day)
    return io.snapshot_id(table)


def filter_retained(df: DataFrame, tier: str, now: datetime,
                    horizons: dict | None = None) -> DataFrame:
    """Retention as a read-side predicate (partition-prunable)."""
    cutoff = retention_horizon(tier, now, horizons)
    if cutoff is None:
        return df
    return df.filter(F.col("bucket_ts") >= F.lit(cutoff))
