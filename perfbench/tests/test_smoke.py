"""Small-size smoke run of the benchmark.

    python -m pytest perfbench/tests -q -p no:cacheprovider

Runs each workload at reduced size in one shared, traced Spark session
and asserts that (1) a run emits every end-to-end and per-layer metric
of `layers.json` by name with its unit, and (2) each workload's
correctness check fails when an engine output is deliberately corrupted.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import harness  # noqa: E402

harness.require_engine()

import run  # noqa: E402
from spans import Tracer  # noqa: E402
from workloads import WORKLOADS  # noqa: E402
from workloads.backfill import BackfillWorkload  # noqa: E402
from workloads.increment import IncrementWorkload  # noqa: E402


class SmallBackfill(BackfillWorkload):
    SOURCES = 16
    LONGEST_MIN = 150


class SmallIncrement(IncrementWorkload):
    DAYS = 8


SMALL = {"backfill": SmallBackfill, "increment": SmallIncrement}


@pytest.fixture(scope="module")
def session():
    with harness.work_dir("smoke") as work:
        spark = harness.start_spark(work, trace=True)
        try:
            yield spark, work
        finally:
            harness.stop_spark()


@pytest.fixture
def small(monkeypatch):
    monkeypatch.setattr(run, "workload_class", lambda name: SMALL[name])


def test_registry_matches_contract_and_docs():
    assert set(SMALL) == set(WORKLOADS)
    for name, cls in SMALL.items():
        assert issubclass(cls, WORKLOADS[name])
    assert [w["name"] for w in run.CONTRACT["workloads"]] == list(WORKLOADS)
    assert set(run.LAYERS["workloads"]) == set(WORKLOADS)
    for section in ("end_to_end", "per_layer"):
        assert [m["name"] for m in run.CONTRACT[section]] \
            == list(run.LAYERS[section]), section


@pytest.mark.parametrize("name", sorted(SMALL))
@pytest.mark.parametrize("trace", [False, True])
def test_every_metric_emitted_with_unit(session, small, name, trace):
    spark, work = session
    sub = work / f"{name}-{int(trace)}"
    sub.mkdir()
    record = run.run_workload(name, seed=1, seconds=0.0, trace=trace,
                              spark=spark, work=sub)
    assert record["attempted"] >= 1
    assert record["failed"] == 0, record["problems"]
    metrics = run.contract_metrics(record)
    section = "per_layer" if trace else "end_to_end"
    spec = {m["name"]: m["unit"] for m in run.CONTRACT[section]}
    assert {k: v["unit"] for k, v in metrics.items()} == spec
    for k, v in metrics.items():
        assert isinstance(v["value"], float), k
    if not trace:
        for k in spec:
            assert metrics[k]["value"] > 0, k
    else:
        assert metrics["trace.spans"]["value"] > 0
        assert record["spans_file"]


def _warm(spark, work, cls, tag):
    sub = work / tag
    sub.mkdir()
    wl = cls(spark=spark, work=sub, seed=2)
    wl.stage()
    wl.warmup()
    return wl


def _all_failed(wl) -> list[str]:
    ops = wl.measure(0.0, Tracer(enabled=False))
    assert ops and not any(o["ok"] for o in ops), ops
    return [p for o in ops for p in o["problems"]]


def test_backfill_check_catches_broken_cascade(session, monkeypatch):
    from pyspark.sql import functions as F
    from tstoken import rollup
    spark, work = session
    wl = _warm(spark, work, SmallBackfill, "bf-cascade")
    real = rollup.rollup_cascade
    monkeypatch.setattr(rollup, "rollup_cascade", lambda df, tier: real(
        df, tier).withColumn("n_docs", F.col("n_docs") + 1))
    problems = _all_failed(wl)
    assert any("n_docs" in p for p in problems)


def test_backfill_check_catches_changed_flags(session, monkeypatch):
    from pyspark.sql import functions as F
    from tstoken import detect
    spark, work = session
    wl = _warm(spark, work, SmallBackfill, "bf-flags")
    real = detect.extrema_ensemble_flags
    monkeypatch.setattr(detect, "extrema_ensemble_flags", lambda df: real(
        df).withColumn("is_outlier", ~F.col("is_outlier")))
    problems = _all_failed(wl)
    assert any(p.startswith("digest") for p in problems)
    assert any(p.startswith("flag_f1") for p in problems)


@pytest.fixture(scope="module")
def increment(session):
    spark, work = session
    wl = _warm(spark, work, SmallIncrement, "inc-corrupt")
    yield wl
    wl.close()


def test_increment_check_catches_bad_decode(increment, monkeypatch):
    from pyspark.sql import functions as F
    from tstoken import compress
    real = compress.decompress_blocks
    monkeypatch.setattr(compress, "decompress_blocks", lambda b: real(
        b).withColumn("value", F.col("value") + 1.0))
    problems = _all_failed(increment)
    assert any("round trip" in p for p in problems)


def test_increment_check_catches_skipped_retention(increment, monkeypatch):
    from tstoken import retention
    monkeypatch.setattr(retention, "apply_retention",
                        lambda *a, **k: None)
    problems = _all_failed(increment)
    assert any("horizon" in p for p in problems)


def test_increment_check_catches_stream_drift(increment, monkeypatch):
    """Re-emit the landed day's streamed buckets with a wrong sum, as a
    later micro-batch would."""
    from pyspark.sql import functions as F
    spark = increment.spark
    real = increment._await_streams

    def drift():
        real()
        day = increment.landed - 1
        lo = (increment.day0 + day) * 86400
        tier = spark.read.parquet(str(increment.tier_dir))
        (tier.where(F.col("bucket_ts").cast("long") >= lo)
         .withColumn("sum_n_tok", F.col("sum_n_tok") + 1)
         .withColumn("batch_id", F.col("batch_id") + 10**6)
         .write.mode("append").parquet(str(increment.tier_dir)))

    monkeypatch.setattr(increment, "_await_streams", drift)
    problems = _all_failed(increment)
    assert any("streamed 1m tier" in p for p in problems)
