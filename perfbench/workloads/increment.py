"""`increment`: land one event-day of raw rows for every source.

Set-up stages each event-day of a thinned raw table (every THIN-th
document of each source) as one parquet file, starts the streaming tier
(`streaming_rollup_1m` in update mode, written by `foreachBatch` into a
parquet sink that `streaming_zscore_flags` reads in a second query: the
two stateful operators are chained through the sink), lands the first
HORIZON_DAYS["1h"] days, and warms up.

The op lands the next day's file in the streaming source directory and,
on the batch side, runs `checkpoint.run_incremental_rollup` on it,
`compress.compress_tier` on the day's 1m rows (appended to a block
table), `retention.apply_retention` on 1m and 1h with a `now` at the end
of the landed day, and a `decompress_blocks` read-back of the new
blocks; it ends when the streaming queries have committed the day too.
The per-op input is small, so per-job fixed cost, whole-table
`overwrite_safe` rewrites, ledger anti-joins, Gorilla encoding and
micro-batch overhead dominate.
"""

from __future__ import annotations

import json
import math
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from spans import Tracer

from .base import Workload

HORIZON_DAYS = {"1m": 2, "1h": 3}
TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "blocks_1m", "ledger")
# columns both the batch and the streaming 1m tier produce; the
# streaming tier has no sum_tok_sq
SHARED = ["source", "bucket_ts", "n_docs", "sum_n_tok", "min_n_tok",
          "max_n_tok"]


def tree_files(path) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


class IncrementWorkload(Workload):
    SOURCES = 6
    THIN = 256
    DAYS = 5

    def _total_rows(self) -> int:
        """Generator rows so that every source spans DAYS event-days."""
        from tstoken import synth
        w = synth.source_weights(self.SOURCES)
        steps = [3 + (7 * i) % 43 for i in range(self.SOURCES)]
        return math.ceil(1.01 * max(self.DAYS * 86400 / (wi * s)
                                    for wi, s in zip(w, steps)))

    def stage(self) -> None:
        from tstoken import rollup, synth
        raw = synth.generate_tokens_raw(self.spark, self._total_rows(),
                                        n_sources=self.SOURCES,
                                        seed=self.seed)
        self.raw_schema = raw.schema
        seq = F.substring_index("doc_id", "-", -1).cast("long")
        day = F.floor((F.col("event_ts").cast("long")
                       - F.lit(synth.T0_EPOCH)) / 86400).cast("int")
        path = self.work / "raw"
        (rollup.with_event_time(raw)
         .withColumn("day", day).drop("event_ts")
         .where((seq % self.THIN == 0) & (F.col("day") < self.DAYS))
         .coalesce(1)  # one task, so one file per day
         .write.mode("overwrite").partitionBy("day").parquet(str(path)))
        self.day_files = []
        for d in range(self.DAYS):
            parts = [p for p in (path / f"day={d}").iterdir()
                     if p.name.startswith("part-")]
            if len(parts) != 1:
                raise RuntimeError(f"day {d}: {len(parts)} staged files")
            self.day_files.append(parts[0])

    # ------------------------------------------------------ streaming

    def _sink(self, batch_df, batch_id: int) -> None:
        (batch_df.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(str(self.tier_dir)))

    def _start_streams(self) -> None:
        from tstoken.streaming import (streaming_rollup_1m,
                                       streaming_zscore_flags)
        self.land_dir = self.work / "landing"
        self.tier_dir = self.work / "stream_tier_1m"
        self.land_dir.mkdir()
        self.tier_dir.mkdir()
        ck = self.work / "ckpt"
        raw_stream = self.spark.readStream.schema(self.raw_schema) \
            .parquet(str(self.land_dir))
        tier = streaming_rollup_1m(raw_stream)
        self.q_tier = (tier.writeStream.outputMode("update")
                       .foreachBatch(self._sink)
                       .option("checkpointLocation", str(ck / "tier"))
                       .start())
        tier_stream = self.spark.readStream \
            .schema(tier.schema.add("batch_id", "long")) \
            .parquet(str(self.tier_dir))
        self.q_flags = (streaming_zscore_flags(tier_stream).writeStream
                        .format("noop").outputMode("append")
                        .option("checkpointLocation", str(ck / "flags"))
                        .start())

    def _land(self, day: int) -> str:
        """Move the day's staged file into the streaming source."""
        dst = self.land_dir / f"day-{day:03d}.parquet"
        os.rename(self.day_files[day], dst)
        return str(dst)

    def _await_streams(self) -> None:
        for q in (self.q_tier, self.q_flags):
            q.processAllAvailable()
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")

    def close(self) -> None:
        for q in (getattr(self, "q_tier", None),
                  getattr(self, "q_flags", None)):
            if q is not None:
                q.stop()

    # ---------------------------------------------------------- set-up

    def warmup(self) -> None:
        from tstoken import checkpoint, compress, retention
        from tstoken.synth import T0_EPOCH
        from tstoken.tableio import TableIO
        self.io = TableIO(self.spark, str(self.work / "tables"),
                          backend="parquet")
        self.day0 = T0_EPOCH // 86400
        self.horizons = {t: timedelta(days=d)
                         for t, d in HORIZON_DAYS.items()}
        self._start_streams()
        first = HORIZON_DAYS["1h"]
        paths = [self._land(d) for d in range(first)]
        checkpoint.run_incremental_rollup(
            self.spark, self.io, self.spark.read.parquet(*paths),
            n_salts=self.cores)
        for tier in HORIZON_DAYS:
            retention.apply_retention(self.io, tier, now=self._now(first - 1),
                                      horizons=self.horizons)
        # the initial load warms the rollup, ledger and retention paths;
        # one compress/decompress pass on its last day warms the codec
        day_1m = self.io.read("rollup_1m") \
            .where(F.col("chunk") == self.day0 + first - 1)
        compress.decompress_blocks(compress.compress_tier(day_1m)).count()
        self._await_streams()
        self.landed = first
        self.store = []

    def _now(self, day: int) -> datetime:
        return datetime.fromtimestamp((self.day0 + day + 1) * 86400,
                                      tz=timezone.utc)

    def has_next(self) -> bool:
        return self.landed < self.DAYS

    # -------------------------------------------------------------- op

    def op(self, tr: Tracer) -> dict:
        from tstoken import checkpoint, compress, retention
        day = self.landed
        self.landed += 1
        chunk = self.day0 + day
        before = tree_files(self.io.base_dir) if tr.enabled else None
        raw = self.spark.read.parquet(self._land(day))
        with tr.span("checkpoint.incremental_rollup") as c:
            done = checkpoint.run_incremental_rollup(
                self.spark, self.io, raw, n_salts=self.cores)
            c["units"] = sum(done.values())
        with tr.span("compress.encode"):
            day_1m = self.io.read("rollup_1m").where(F.col("chunk") == chunk)
            blocks = compress.compress_tier(day_1m, tier="1m") \
                .withColumn("day", F.lit(day))
            self.io.append("blocks_1m", blocks, partition_by=("day",))
        with tr.span("retention.apply"):
            for tier in HORIZON_DAYS:
                retention.apply_retention(self.io, tier, now=self._now(day),
                                          horizons=self.horizons)
        with tr.span("compress.decode"):
            back = compress.decompress_blocks(
                self.io.read("blocks_1m").where(F.col("day") == day)) \
                .toPandas()
        with tr.span("streaming.await"):
            self._await_streams()
        # rows and points are filled by check() from the ledger
        out = {"rows": 0, "points": 0, "day": day, "back": back}
        if before is not None:
            after = tree_files(self.io.base_dir)
            new = {p: s for p, s in after.items() if before.get(p) != s}
            out["written"] = (sum(new.values()), len(new))
        return out

    # ----------------------------------------------------------- check

    def check(self, result: dict) -> list[str]:
        """Round trip, retention, ledger and batch == streaming tier
        invariants; also fills the op's counts and storage figures."""
        from tstoken import checkpoint
        day = result["day"]
        chunk = self.day0 + day
        problems = []
        day_1m = (self.io.read("rollup_1m").where(F.col("chunk") == chunk)
                  .select(*SHARED).toPandas())
        key = ["source", "bucket_ts"]
        tier = (day_1m[key].assign(value=day_1m["sum_n_tok"]
                                   .astype("float64"))
                .sort_values(key).reset_index(drop=True))
        back = result["back"].sort_values(key).reset_index(drop=True)
        if len(tier) == 0 or not back.equals(tier):
            problems.append(f"day {day}: decompress_blocks round trip "
                            f"({len(back)} points) != 1m tier "
                            f"({len(tier)} points)")
        problems += self._stream_parity(day, day_1m)
        for t, h in HORIZON_DAYS.items():
            n = self.io.read(f"rollup_{t}").select("chunk").distinct().count()
            if n != h:
                problems.append(f"day {day}: rollup_{t} holds {n} days, "
                                f"horizon {h}")
        ledger = checkpoint.read_ledger(self.io).toPandas()
        units = ledger[["tier", "source", "chunk"]]
        expect = 3 * self.SOURCES * (day + 1)
        if units.duplicated().any() or len(units) != expect:
            problems.append(f"day {day}: ledger has {len(units)} rows, "
                            f"{int(units.duplicated().sum())} duplicated; "
                            f"expected one per unit ({expect})")
        new = ledger[ledger["chunk"] == chunk]
        result["rows"] = int(new.loc[new["tier"] == "1m", "rows_in"].sum())
        result["points"] = int(new["rows_out"].sum())
        self._storage(result, ledger, chunk)
        return problems

    def _stream_parity(self, day: int, batch: pd.DataFrame) -> list[str]:
        """The streamed 1m tier of the day (latest emission per bucket)
        must equal the batch 1m tier cell for cell on SHARED."""
        lo = pd.Timestamp((self.day0 + day) * 86400, unit="s")
        hi = lo + pd.Timedelta(days=1)
        got = (self.spark.read.parquet(str(self.tier_dir))
               .where((F.col("bucket_ts") >= lo) & (F.col("bucket_ts") < hi))
               .toPandas().sort_values("batch_id")
               .drop_duplicates(["source", "bucket_ts"], keep="last"))
        key = ["source", "bucket_ts"]
        a = batch.sort_values(key).reset_index(drop=True)
        b = got[SHARED].sort_values(key).reset_index(drop=True)
        same = len(a) == len(b) and all(
            (a[c].astype("int64") == b[c].astype("int64")).all()
            if c not in key else a[c].equals(b[c]) for c in SHARED)
        if not same or len(a) == 0:
            return [f"day {day}: streamed 1m tier ({len(b)} buckets) != "
                    f"batch rollup_1m ({len(a)} buckets)"]
        return []

    def _storage(self, result: dict, ledger: pd.DataFrame, chunk: int):
        """Stored bytes per retained point, write amplification and
        rows expired, from the table directories and the ledger."""
        size = {t: sum(tree_files(os.path.join(self.io.base_dir, t))
                       .values()) for t in TABLES}
        keep = {"1m": HORIZON_DAYS["1m"], "1h": HORIZON_DAYS["1h"],
                "1d": None}
        retained, new_bytes, expired = 0, 0.0, 0
        for t, h in keep.items():
            rows = ledger[ledger["tier"] == t]
            live = rows if h is None else rows[rows["chunk"] > chunk - h]
            n_live = int(live["rows_out"].sum())
            retained += n_live
            n_new = int(rows.loc[rows["chunk"] == chunk, "rows_out"].sum())
            new_bytes += size[f"rollup_{t}"] * n_new / max(n_live, 1)
            if h is not None:
                expired += int(rows.loc[rows["chunk"] == chunk - h,
                                        "rows_out"].sum())
        rec = {"stored_bytes_per_point": sum(size.values()) / retained,
               "ledger_rows": len(ledger), "rows_deleted": expired}
        if "written" in result:
            b, n = result["written"]
            rec.update(bytes_written=b, files_written=n,
                       write_amplification=b / new_bytes)
        blocks = (self.io.read("blocks_1m")
                  .where(F.col("day") == result["day"])
                  .select(F.length("ts_block").alias("ts"),
                          F.length("val_block").alias("val"), "n_points")
                  .toPandas())
        n = blocks["n_points"].sum()
        rec.update(ts_bytes_per_point=blocks["ts"].sum() / n,
                   val_bytes_per_point=blocks["val"].sum() / n)
        self.store.append(rec)

    # --------------------------------------------------------- metrics

    def extra_metrics(self) -> dict:
        return {"stored_bytes_per_point": float(np.median(
            [r["stored_bytes_per_point"] for r in self.store]))}

    def layer_metrics(self, tracer: Tracer) -> dict:
        def med(k):
            vals = [r[k] for r in self.store if k in r]
            return float(np.median(vals)) if vals else 0.0
        out = {
            "checkpoint.incremental_rollup_s":
                tracer.median_wall("checkpoint.incremental_rollup"),
            "checkpoint.units_processed":
                tracer.median_count("checkpoint.incremental_rollup", "units"),
            "checkpoint.ledger_rows": med("ledger_rows"),
            "compress.encode_s": tracer.median_wall("compress.encode"),
            "compress.decode_s": tracer.median_wall("compress.decode"),
            "compress.ts_bytes_per_point": med("ts_bytes_per_point"),
            "compress.val_bytes_per_point": med("val_bytes_per_point"),
            "tableio.bytes_written": med("bytes_written"),
            "tableio.files_written": med("files_written"),
            "tableio.write_amplification": med("write_amplification"),
            "retention.apply_s": tracer.median_wall("retention.apply"),
            "retention.rows_deleted": med("rows_deleted"),
            "streaming.await_s": tracer.median_wall("streaming.await"),
        }
        out.update(self._stream_metrics(tracer))
        return out

    def _stream_metrics(self, tracer: Tracer) -> dict:
        """Streaming-layer figures from the queries' recent progress
        over the traced window; each micro-batch also becomes a span."""
        ops = tracer.by_name("op")
        lo, hi = min(r["start"] for r in ops), max(r["end"] for r in ops)

        def progress(q):
            out = []
            for p in q.recentProgress:
                d = json.loads(p.json)
                d["_start"] = pd.Timestamp(d["timestamp"]).timestamp()
                if lo <= d["_start"] <= hi and d.get("numInputRows"):
                    out.append(d)
            return out

        tier, flags = progress(self.q_tier), progress(self.q_flags)
        for name, prog in (("streaming.rollup_1m_batch", tier),
                           ("streaming.zscore_batch", flags)):
            for d in prog:
                dur = d["durationMs"].get("triggerExecution", 0) / 1000.0
                tracer.add_span(name, d["_start"], d["_start"] + dur,
                                batch=d["batchId"], rows=d["numInputRows"])

        def med(vals):
            return float(np.median(vals)) if vals else 0.0

        def state(prog, key):
            return float(sum(s.get(key, 0) for d in prog[-1:]
                             for s in d.get("stateOperators", [])))

        return {
            "streaming.trigger_s": med([d["durationMs"].get(
                "triggerExecution", 0) / 1000.0 for d in tier]),
            "streaming.add_batch_s": med([d["durationMs"].get(
                "addBatch", 0) / 1000.0 for d in tier]),
            "streaming.processed_rows_per_s": med([
                d["processedRowsPerSecond"] for d in tier]),
            "streaming.state_rows": state(tier, "numRowsTotal")
            + state(flags, "numRowsTotal"),
            "streaming.state_memory_bytes": state(tier, "memoryUsedBytes")
            + state(flags, "memoryUsedBytes"),
            "streaming.rows_dropped_by_watermark": float(sum(
                s.get("numRowsDroppedByWatermark", 0) for d in tier
                for s in d.get("stateOperators", []))),
            "streaming.zscore_trigger_s": med([d["durationMs"].get(
                "triggerExecution", 0) / 1000.0 for d in flags]),
        }
