"""Per-unit checkpoint ledger: lineage + throughput metrics + resume.

A work unit is (tier, source, chunk), chunk being the UTC day of the
bucket. Every 1h/1d bucket nests in one day and the measures are
associative, so a unit is computed from its own rows alone; the tier
tables are partitioned by ("chunk", "source"), one unit per partition.
The ledger is a table too (FIXTURES.md A2), one LEDGER_SCHEMA row per
finished unit.

A run reads the ledger once and skips the units it holds (SURVEY.md J3):
1m candidates come from the raw input, a cascade's from the finer
tier's partitions, read pruned to the pending units. Each tier
partition-overwrites only its pending units, and the ledger rows of all
tiers are appended in one write at the end of the run. A crash before
that append replays the run's units: idempotent, since a partition
overwrite replaces the unit (byte-identical tiers).
"""

from __future__ import annotations

import time
from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tableio import TableIO

LEDGER_TABLE = "ledger"
LEDGER_SCHEMA = ("tier string, source string, chunk int, "  # chunk: day index
                 "input_snapshot string, rows_in long, rows_out long, "
                 "wall_ms long, points_per_sec double, finished_at timestamp")
LEDGER_COLUMNS = [c.split()[0] for c in LEDGER_SCHEMA.split(", ")]
TIER_PARTITIONS = ("chunk", "source")


def chunk_col() -> F.Column:
    return F.floor(F.col("bucket_ts").cast("long") / F.lit(86400)).cast("int")


def unit_key() -> F.Column:
    """Unit key `<chunk>/<source>`; a filter on it prunes partitions."""
    return F.concat_ws("/", F.col("chunk").cast("string"), "source")


def read_ledger(io: TableIO) -> DataFrame:
    if io.exists(LEDGER_TABLE):
        return io.read(LEDGER_TABLE)
    return io.spark.createDataFrame([], LEDGER_SCHEMA)


def _write_units(io: TableIO, tier: str, work: DataFrame,
                 input_snapshot: str, t0: float) -> list[tuple]:
    """Partition-overwrite the units of `work` (tier rows with a chunk
    column) into rollup_<tier>; returns their ledger rows. One collect
    on the cached rows yields both the units and their counts."""
    work = work.cache()
    units = work.groupBy("source", "chunk").agg(
        F.sum("n_docs").alias("rows_in"),
        F.count(F.lit(1)).alias("rows_out")).collect()
    if units:
        io.overwrite_partitions(f"rollup_{tier}",
                                work.repartition(*TIER_PARTITIONS),
                                partition_by=TIER_PARTITIONS)
    work.unpersist()
    wall_ms = int((time.time() - t0) * 1000)
    pps = 1000.0 * sum(u.rows_out for u in units) / max(wall_ms, 1)
    now = datetime.now(timezone.utc)
    return [(tier, u.source, u.chunk, input_snapshot, u.rows_in,
             u.rows_out, wall_ms, pps, now) for u in units]


def run_incremental_rollup(spark: SparkSession, io: TableIO, raw: DataFrame,
                           n_salts: int = 16) -> dict[str, int]:
    """Checkpointed tier build: only pending (source, chunk) units are
    (re)computed; tier writes are partition-overwrites ⇒ idempotent.

    Returns per-tier counts of processed units.
    """
    from .rollup import rollup_1m, rollup_cascade

    done = {"1m": set(), "1h": set(), "1d": set()}
    for r in read_ledger(io).select("tier", "source", "chunk").collect():
        done[r.tier].add(f"{r.chunk}/{r.source}")

    # ---- 1m from raw
    t0 = time.time()
    work = rollup_1m(raw, n_salts=n_salts).withColumn("chunk", chunk_col()) \
        .where(~unit_key().isin(sorted(done["1m"])))
    rows = _write_units(io, "1m", work, "raw", t0)

    # ---- cascades: candidates are the finer tier's partitions
    for src_tier, dst_tier in (("1m", "1h"), ("1h", "1d")):
        t0 = time.time()
        src = f"rollup_{src_tier}"
        pend = {f"{p['chunk']}/{p['source']}" for p in io.partitions(src)}
        pend = sorted(pend - done[dst_tier])
        if not pend:
            continue
        finer = io.read(src).where(unit_key().isin(pend))  # partition pruning
        work = rollup_cascade(finer.drop("chunk"), dst_tier) \
            .withColumn("chunk", chunk_col())
        rows += _write_units(io, dst_tier, work,
                             f"{src}@{io.snapshot_id(src)}", t0)

    if rows:  # local rows via pandas; one task, one ledger file per tier
        ledger = spark.createDataFrame(
            pd.DataFrame(rows, columns=LEDGER_COLUMNS), LEDGER_SCHEMA)
        io.append(LEDGER_TABLE, ledger.coalesce(1), partition_by=("tier",))
    return {t: sum(r[0] == t for r in rows) for t in done}
