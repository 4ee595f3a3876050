"""`backfill`: one pass from a staged raw table to scored tiers.

The op is the token pipeline followed by the detectors over its 1m
tier: salted `rollup_1m`, the 1h and 1d cascades, `gap_fill`, IQR and
MAD flags, the grouped Arrow-UDF detectors (stl_z, mstl, esd, classic)
and the extrema ensemble, every tier forced and every flag frame
collected. The raw table has many Zipf-skewed sources, so a few have
long series and most have short ones (short enough for `iqr_fallback`):
scan, posexplode and the salted aggregation carry the rollup share of
the op, kernels, Arrow transfer and per-group cost the detector share.
At this size every 1h and 1d series is shorter than two seasonal
periods, so the grouped detectors run on 1m only.
"""

from __future__ import annotations

import hashlib
import time

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spans import Tracer, cached_plan, executed_plan, plan_metrics

from .base import Workload

GROUPED = ("stl_z", "mstl", "esd", "classic")
MEASURES = ("n_docs", "sum_n_tok", "sum_tok_sq")


# ------------------------------------------------------------ rollup

def tier_totals(df) -> dict:
    """Force a tier and return its row count and conserved measures."""
    row = df.agg(F.count(F.lit(1)).alias("rows"),
                 *[F.sum(m).alias(m) for m in MEASURES]).collect()[0]
    return {k: int(row[k] or 0) for k in ("rows",) + MEASURES}


def raw_totals(path) -> dict:
    """Conserved measures straight from the staged parquet (pyarrow,
    no Spark): the reference every tier must reproduce."""
    t = pq.read_table(path, columns=["n_tok", "tokens"])
    toks = pc.list_flatten(t.column("tokens")).to_numpy().astype(np.int64)
    return {"n_docs": t.num_rows,
            "sum_n_tok": int(pc.sum(t.column("n_tok")).as_py()),
            "sum_tok_sq": int((toks * toks).sum())}


def conservation_problems(expected: dict, totals: dict) -> list[str]:
    return [f"{tier}.{m}: {t[m]} != raw {expected[m]}"
            for tier, t in totals.items() for m in MEASURES
            if t[m] != expected[m]]


def rollup_plan_counts(plan) -> dict:
    """Exploded token rows, salted partial groups and final groups, from
    the SQL metrics of the plan that materialized the 1m tier."""
    nodes = plan_metrics(plan)
    gen = [m.get("numOutputRows", 0) for n, m in nodes if n == "Generate"]
    aggs = [m.get("numOutputRows", 0) for n, m in nodes
            if n == "HashAggregate"]
    # aggregates top-down: final (merge, partial) then salted (merge,
    # partial); the salted merge emits one row per (source, bucket, salt)
    return {"exploded_rows": sum(gen),
            "final_rows": aggs[0] if aggs else 0,
            "partial_rows": aggs[2] if len(aggs) > 2 else 0}


def salted_stage_skew(tracer: Tracer, rec: dict) -> float:
    """max/median task time of the stage that reduces the salted
    partial aggregation: the one reading the most shuffle bytes."""
    best, best_read = None, -1
    for s in rec["stages"]:
        tasks = tracer.stage_tasks(s)
        read = sum(t["shuffle_read_bytes"] for t in tasks)
        if tasks and read > best_read:
            best, best_read = tasks, read
    if not best:
        return 0.0
    runs = sorted(t["run_s"] for t in best)
    med = runs[len(runs) // 2]
    return runs[-1] / med if med > 0 else 1.0


# ------------------------------------------------------------ detect

def keys(df: pd.DataFrame) -> set:
    return set(zip(df["source"], df["bucket_ts"].astype("int64")))


def f1_score(pred: set, truth: set) -> float:
    tp = len(pred & truth)
    prec = tp / max(len(pred), 1)
    rec = tp / max(len(truth), 1)
    return 2 * prec * rec / max(prec + rec, 1e-9)


def flags_digest(flags: pd.DataFrame) -> str:
    f = flags.sort_values(["requested", "source", "bucket_ts"])
    h = hashlib.sha256()
    for col in ("requested", "source", "bucket_ts", "method",
                "is_outlier", "score"):
        h.update(pd.util.hash_pandas_object(f[col], index=False)
                 .to_numpy().tobytes())
    return h.hexdigest()


def python_bytes(plan) -> dict:
    sent = recv = 0
    for name, m in plan_metrics(plan):
        if name.startswith("FlatMapGroupsInPandas"):
            sent += m.get("pythonDataSent", 0)
            recv += m.get("pythonDataReceived", 0)
    return {"python_bytes_sent": sent, "python_bytes_received": recv}


def _median(vals) -> float:
    vals = list(vals)
    return float(np.median(vals)) if vals else 0.0


class BackfillWorkload(Workload):
    SOURCES = 32
    LONGEST_MIN = 240

    def _total_rows(self) -> int:
        """Generator rows so that the longest source spans LONGEST_MIN
        minutes (the Zipf weights fix every other source's span)."""
        from tstoken import synth
        w = synth.source_weights(self.SOURCES)
        steps = [3 + (7 * i) % 43 for i in range(self.SOURCES)]
        return int(self.LONGEST_MIN * 60 / max(wi * s
                                                for wi, s in zip(w, steps)))

    def stage(self) -> None:
        """Stage the raw table thinned to about one document per
        source-minute (every max(1, 60 // step)-th document of a
        source), so long series stay cheap to generate."""
        from tstoken import rollup, synth
        self.rows = self._total_rows()
        raw = synth.generate_tokens_raw(self.spark, self.rows,
                                        n_sources=self.SOURCES,
                                        seed=self.seed)
        seq = F.substring_index("doc_id", "-", -1).cast("long")
        keep = F.greatest(F.lit(1), F.floor(F.lit(60) / rollup.step_col()))
        path = self.work / "raw"
        raw.where(seq % keep == 0).write.mode("overwrite").parquet(str(path))
        self.raw_path = str(path)

    def warmup(self) -> None:
        """Raw totals and ground truth, then the warm-up op, which also
        fixes the non-empty 1m buckets and the reference flags."""
        from tstoken import synth
        self.expected = raw_totals(self.raw_path)
        self.planted = keys(synth.ground_truth(
            self.spark, self.rows, n_sources=self.SOURCES,
            seed=self.seed).toPandas())
        self.present = self.series = self.reference = None
        super().warmup()

    # -------------------------------------------------------------- op

    def op(self, tr: Tracer) -> dict:
        from tstoken import detect, gapfill, rollup
        raw = self.spark.read.parquet(self.raw_path)
        tiers, tot = {}, {}
        with tr.span("rollup.rollup_1m") as c:
            tiers["1m"] = rollup.rollup_1m(raw, n_salts=self.cores).persist()
            tot["1m"] = tier_totals(tiers["1m"])
            if self.present is None:  # warm-up op only
                self.present = keys(tiers["1m"].select("source", "bucket_ts")
                                    .toPandas())
                self.truth = self.planted & self.present
            if tr.enabled:
                c.update(rollup_plan_counts(
                    cached_plan(self.spark, tiers["1m"])))
        for fine, t in (("1m", "1h"), ("1h", "1d")):
            with tr.span(f"rollup.cascade_{t}"):
                tiers[t] = rollup.rollup_cascade(tiers[fine], t).persist()
                tot[t] = tier_totals(tiers[t])
        with tr.span("gapfill.gap_fill") as c:
            gf = gapfill.gap_fill(tiers["1m"], "1m").persist()
            if self.series is None:  # warm-up op only: kernel-only inputs
                self.series = gf.select("source", "bucket_ts", "sum_n_tok") \
                    .toPandas()
            if tr.enabled:
                row = gf.agg(F.count(F.lit(1)).alias("n"),
                             F.sum(F.col("gap_filled").cast("int"))
                             .alias("filled")).collect()[0]
                c.update(spine_rows=row["n"], filled=row["filled"])
        detectors = [
            ("detect.iqr", "iqr", detect.iqr_flags, ()),
            ("detect.mad", "mad", detect.mad_flags, ()),
            *[(f"detect.{m}_1m", m, detect.grouped_flags, ("1m", m))
              for m in GROUPED],
            ("detect.ensemble", "ensemble", detect.extrema_ensemble_flags, ()),
        ]
        parts = []
        for name, label, fn, args in detectors:
            with tr.span(name) as c:
                df = fn(gf, *args)
                parts.append(df.toPandas().assign(requested=label))
                if tr.enabled:
                    c.update(python_bytes(executed_plan(df)))
        flags = pd.concat(parts, ignore_index=True)
        for df in [gf, *tiers.values()]:
            df.unpersist()
        return {"rows": self.expected["n_docs"],
                "points": sum(t["rows"] for t in tot.values()),
                "totals": tot, "flags": flags}

    # ----------------------------------------------------------- check

    def _f1(self, flags: pd.DataFrame, requested: str) -> float:
        """F1 of one detector's 1m flags against the ground truth, both
        restricted to the non-empty 1m buckets (gap-filled buckets are
        never predictions)."""
        hit = flags[(flags["requested"] == requested) & flags["is_outlier"]]
        return f1_score(keys(hit) & self.present, self.truth)

    def check(self, result: dict) -> list[str]:
        problems = conservation_problems(self.expected, result["totals"])
        flags = result["flags"]
        got = {"digest": flags_digest(flags),
               "flag_f1": self._f1(flags, "ensemble")}
        groups = flags[flags["requested"].isin(GROUPED)] \
            .groupby(["requested", "source"])
        self.groups = int(groups.ngroups)
        self.fallback_groups = int(
            groups["method"].first().eq("iqr_fallback").sum())
        self.method_f1 = {m: self._f1(flags, m)
                          for m in GROUPED + ("iqr", "mad", "ensemble")}
        if self.reference is None:
            self.reference = got
        return problems + [f"{k}: {got[k]} != set-up {self.reference[k]}"
                           for k in got if got[k] != self.reference[k]]

    # --------------------------------------------------------- metrics

    def extra_metrics(self) -> dict:
        return {"flag_f1": self.reference["flag_f1"]}

    def layer_metrics(self, tracer: Tracer) -> dict:
        out = {
            "rollup.rollup_1m_s": tracer.median_wall("rollup.rollup_1m"),
            "rollup.cascade_1h_s": tracer.median_wall("rollup.cascade_1h"),
            "rollup.cascade_1d_s": tracer.median_wall("rollup.cascade_1d"),
            "gapfill.gap_fill_s": tracer.median_wall("gapfill.gap_fill"),
            "detect.iqr_s": tracer.median_wall("detect.iqr"),
            "detect.mad_s": tracer.median_wall("detect.mad"),
            "detect.ensemble_s": tracer.median_wall("detect.ensemble"),
        }
        out.update({f"detect.{m}_1m_s": tracer.median_wall(f"detect.{m}_1m")
                    for m in GROUPED})
        for k in ("exploded_rows", "partial_rows", "final_rows"):
            out[f"rollup.{k}"] = tracer.median_count("rollup.rollup_1m", k)
        spine = tracer.median_count("gapfill.gap_fill", "spine_rows")
        out["gapfill.spine_rows"] = spine
        out["gapfill.filled_ratio"] = (
            tracer.median_count("gapfill.gap_fill", "filled") / spine
            if spine else 0.0)
        recs = tracer.by_name("rollup.rollup_1m")
        out["rollup.shuffle_write_bytes"] = _median(
            r["task_metrics"]["shuffle_write_bytes"] for r in recs)
        out["rollup.spill_bytes"] = _median(
            r["task_metrics"]["spill_bytes"] for r in recs)
        out["rollup.task_skew"] = _median(
            salted_stage_skew(tracer, r) for r in recs)

        for k in ("python_bytes_sent", "python_bytes_received"):
            per_op: dict[int, float] = {}
            for r in tracer.spans:
                if k in r["counts"]:
                    per_op[r["op"]] = per_op.get(r["op"], 0) + r["counts"][k]
            out[f"detect.{k}"] = _median(per_op.values())
        out["detect.groups"] = float(self.groups)
        out["detect.fallback_groups"] = float(self.fallback_groups)
        out.update({f"detect.f1_{m}": v for m, v in self.method_f1.items()})
        kernels = self.kernel_times(tracer)
        out.update(kernels)
        grouped = {f"detect.{m}_1m" for m in GROUPED}
        run_s: dict[int, float] = {}
        for r in tracer.spans:
            if r["name"] in grouped:
                run_s[r["op"]] = run_s.get(r["op"], 0.0) \
                    + r["task_metrics"]["executor_run_s"]
        # executor time of the grouped detectors (task-seconds, so
        # comparable to single-threaded kernel time) minus the kernels
        out["detect.udf_overhead_s"] = (_median(run_s.values())
                                        - sum(kernels.values())
                                        if run_s else 0.0)
        return out

    def kernel_times(self, tracer: Tracer) -> dict:
        """Driver-side kernel-only time over the series the grouped
        detectors score: each stats kernel called as the detector calls
        it, once per group long enough not to fall back."""
        from tstoken.rollup import TIER_MSTL_PERIODS, TIER_PERIOD
        from tstoken.stats.decompose import seasonal_decompose
        from tstoken.stats.esd import generalized_esd, seasonal_esd
        from tstoken.stats.mstl import mstl_fit
        from tstoken.stats.normality import shapiro
        from tstoken.stats.stl import stl_fit

        p, mstl_periods = TIER_PERIOD["1m"], TIER_MSTL_PERIODS["1m"]
        series = [g.sort_values("bucket_ts")["sum_n_tok"]
                  .to_numpy(dtype=np.float64)
                  for _, g in self.series.groupby("source")]
        series = [x for x in series if len(x) >= 2 * p + 1]

        def esd(x):
            kw = {"max_anomalies": len(x) // 20}
            if shapiro(x)[1] > 0.05:
                return generalized_esd(x, **kw)
            return seasonal_esd(x, periodicity=p, hybrid=True, **kw)

        def classic(x):
            seasonal_decompose(x, "additive", period=p)
            if np.all(x > 0):
                seasonal_decompose(x, "multiplicative", period=p)

        kernels = {
            "stats.stl_fit_s": lambda x: stl_fit(
                x, period=p, seasonal=p + (p % 2 == 0)),
            "stats.mstl_fit_s": lambda x: mstl_fit(
                x, periods=tuple(q for q in mstl_periods if len(x) > 2 * q)
                or (p,)),
            "stats.esd_s": esd,
            "stats.seasonal_decompose_s": classic,
        }
        out = {}
        for name, fn in kernels.items():
            with tracer.span(name):
                t0 = time.perf_counter()
                for x in series:
                    try:
                        fn(x)
                    except ValueError:
                        pass  # degenerate series: the detector falls back
                out[name] = time.perf_counter() - t0
        return out
