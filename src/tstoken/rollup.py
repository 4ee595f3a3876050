"""Continuous aggregates: 1m/1h/1d rollup tiers over tokens_raw.

Spark-first design (SURVEY.md A10, §4.2):
  - event time is DERIVED from doc_id's sequence encoding (SURVEY.md
    §1.4) so the stored schema stays exactly the 4-column input_hint;
  - the 1m tier aggregates raw rows with a salted two-phase aggregation
    (partial per (source, bucket, salt), final per (source, bucket)) so
    one Zipf-hot source cannot pin a single reducer — the "salted
    repartitioning by source" of the north rule;
  - 1h re-aggregates 1m, 1d re-aggregates 1h (associative sums/counts/
    min/max only — the ROLLUP-cascade equivalent; averages derive at read);
  - token-derived statistics (sum of squared token ids) are computed
    once, at the 1m tier, over the `posexplode`d token stream — the fat
    `tokens` array is never read again above 1m (column pruning);
  - each measure is defined once, in MEASURES, as a (partial, merge)
    pair shared by batch 1m, the cascades, streaming and gap-fill.

All tier measures are integer (count/sum/min/max of int64) ⇒ rollups
are exactly reproducible — the BASELINE "rolled-up points must match
exactly" criterion.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .synth import T0_EPOCH

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}
TIER_ORDER = ["1m", "1h", "1d"]
# seasonal period per tier for decomposition detectors (SURVEY.md K11:
# fixed tiers ⇒ static period table — 1m→hourly cycle, 1h→daily, 1d→weekly)
TIER_PERIOD = {"1m": 60, "1h": 24, "1d": 7}
# multi-seasonal periods per tier (reference MSTL period tuples,
# catch.py:1231-1277, transposed to the fixed tiers: the 1m tier sees
# hourly + daily cycles, 1h daily + weekly, 1d weekly + yearly)
TIER_MSTL_PERIODS = {"1m": (60, 1440), "1h": (24, 168), "1d": (7, 365)}

# Each measure: (name, partial aggregate over token_stream() rows, where
# `first` marks a doc's pos-0 row, merge aggregate). F.sum skips the null
# sentinel tokens; the coalesce covers an all-empty-docs group (sum over
# only nulls -> null, must be 0) — per group, NOT per token, since the
# token stream is the hot loop.
MEASURES = (
    ("n_docs", lambda first: F.sum(F.when(first, 1)), F.sum),
    ("sum_n_tok",
     lambda first: F.sum(F.when(first, F.col("n_tok").cast("long"))), F.sum),
    ("min_n_tok", lambda first: F.min(F.when(first, F.col("n_tok"))), F.min),
    ("max_n_tok", lambda first: F.max(F.when(first, F.col("n_tok"))), F.max),
    ("sum_tok_sq",
     lambda first: F.coalesce(F.sum(F.col("tok").cast("long") * F.col("tok")),
                              F.lit(0).cast("long")), F.sum),
)
# measures whose merge is a sum: a bucket with no docs holds 0 for them
SUM_MEASURES = [name for name, _, merge in MEASURES if merge is F.sum]
ROLLUP_COLUMNS = ["source", "bucket_ts", *(name for name, _, _ in MEASURES),
                  "gap_filled"]


def src_idx_col(source: Column = None) -> Column:
    src = source if source is not None else F.col("source")
    return F.substring(src, 5, 3).cast("int")


def seq_col(doc_id: Column = None) -> Column:
    d = doc_id if doc_id is not None else F.col("doc_id")
    return F.substring_index(d, "-", -1).cast("long")  # last '-' field = seq


def step_col(source: Column = None) -> Column:
    return (F.lit(3) + F.pmod(src_idx_col(source) * F.lit(7), F.lit(43)))


def with_event_time(raw: DataFrame) -> DataFrame:
    """Derive event_ts deterministically from (source, doc_id) — SURVEY §1.4."""
    seq = seq_col()
    step = step_col()
    return raw.withColumn(
        "event_ts",
        F.timestamp_seconds(F.lit(T0_EPOCH) + seq * step.cast("long")))


def bucket_col(event_ts: Column, tier: str) -> Column:
    secs = TIER_SECONDS[tier]
    epoch = event_ts.cast("long")
    return F.timestamp_seconds((epoch - F.pmod(epoch, F.lit(secs))))


def token_stream() -> Column:
    """`posexplode` of `tokens` as (pos, tok). Empty or null arrays get
    one null sentinel so every doc yields a pos-0 row: zero-token docs
    are plausible in arbitrary tokens_raw tables and count in n_docs."""
    toks = F.coalesce(F.col("tokens"), F.array().cast("array<int>"))
    padded = F.when(F.size(toks) == 0,
                    F.array(F.lit(None).cast("int"))).otherwise(toks)
    return F.posexplode(padded).alias("pos", "tok")


def partial_aggs() -> list[Column]:
    """The MEASURES partials, over rows selected with token_stream()."""
    first = F.col("pos") == 0
    return [partial(first).alias(name) for name, partial, _ in MEASURES]


def merge_aggs() -> list[Column]:
    """The MEASURES merges, over rows that already hold the measures."""
    return [merge(name).alias(name) for name, _, merge in MEASURES]


def rollup_1m(raw: DataFrame, n_salts: int = 16) -> DataFrame:
    """tokens_raw → 1m tier with salted two-phase aggregation.

    Token-derived statistics use `posexplode` + whole-stage-codegen
    native aggregation rather than an interpreted `F.aggregate` lambda:
    the flattened stream stays in primitive unsafe-row form end to end
    (no per-element boxing), which both runs ~10× faster per core and
    SCALES with cores — the interpreted higher-order path is
    allocation-bound and anti-scales beyond ~8 threads in one JVM.
    Doc-level measures (count/sum/min/max of n_tok) piggyback on the
    same single scan via `pos = 0` guards, so the raw table is read
    exactly once.

    Phase 1 shuffles on (source, bucket_ts, salt) so a skewed source's
    rows spread over n_salts reducers; phase 2 merges the (tiny)
    partials. All measures are associative, so the result is exact.
    """
    df = with_event_time(raw)
    df = (df
          .withColumn("bucket_ts", bucket_col(F.col("event_ts"), "1m"))
          .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salts)))
          .select("source", "bucket_ts", "salt", "n_tok", token_stream()))
    partial = df.groupBy("source", "bucket_ts", "salt").agg(*partial_aggs())
    final = (partial.groupBy("source", "bucket_ts").agg(*merge_aggs())
             .withColumn("gap_filled", F.lit(False)))
    return final.select(*ROLLUP_COLUMNS)


def rollup_cascade(finer: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into `tier` (1m→1h or 1h→1d).

    Gap-filled zero rows are excluded so min/max stay exact.
    """
    src = finer.filter(~F.col("gap_filled"))
    return (src
            .groupBy("source", bucket_col(F.col("bucket_ts"), tier).alias("bucket_ts"))
            .agg(*merge_aggs())
            .withColumn("gap_filled", F.lit(False))
            .select(*ROLLUP_COLUMNS))


def build_all_tiers(raw: DataFrame, n_salts: int = 16) -> dict[str, DataFrame]:
    t1m = rollup_1m(raw, n_salts=n_salts)
    t1h = rollup_cascade(t1m, "1h")
    t1d = rollup_cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}
