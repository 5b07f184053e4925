"""Registry-wide keyless-window plan guard (r10 VERDICT order #5):
no registered query may run a Window with an EMPTY partition spec
over non-metadata input — a keyless window collapses its whole input
onto one task (the r09 ROC trap; the r11 sweep found the same shape
in epoch_shuffle / pack_sequences / psi_drift / kaplan_meier /
rfm_segments, all re-planned onto the distkit prefix engine).

Detection matches tools/keyless_window_scan.py: in the optimized
plan, a windowspecdefinition whose every pre-frame argument carries
an ASC/DESC marker has no partition columns (Catalyst also folds
constant partition keys like lit(1) to an empty spec, so that
spelling is caught too).

The allowlist below is the AUDIT: every entry names the bounded
input that makes its keyless window safe. A new query with a keyless
window over row-sized input must be re-planned (distkit
global_row_number / global_cumsums), not allowlisted.
"""


# r13 verify-gate split: multi-minute e2e/property lane, opt-in via `make test-slow`
import pytest
pytestmark = pytest.mark.slow
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

SF_DIR = "/root/testdata/sf0.001"

# name -> audited reason the window input is bounded (metadata /
# vocabulary / parameter-sized, NOT proportional to fact-table rows)
KEYLESS_AUDITED = {
    # lag table: one row per lag in [0, max_lag] — parameter-bounded
    "e_ccf_view_purchase": "cross-correlation lag table (≤ max_lag)",
    # KM runs distkit now, but the offset join leaves a per-range
    # window only; nothing keyless — keep documented here if Spark
    # ever re-plans it. (Removed from allowlist: re-planned r11.)
    # distinct (duration) rows after the subject agg
    # per-shard pack counts: |shards| rows (explicit shard column)
    "p_pack_sharded": "per-shard pack-count offsets (|shards| rows)",
    # item vocabulary index: a dimension table by declaration
    "p_negative_sample_pairs": "item-vocabulary dense index "
                               "(dimension table)",
    # token vocabulary freq ranks (sublinear in corpus)
    "p_zipf_profile": "token-vocabulary frequency ranks",
    # per-day aggregate: calendar-bounded
    "sliding_moving_avg": "per-day aggregate (calendar-bounded)",
    # p-value table: one row per tested cell/group pair
    "w_bh_fdr_cells": "per-cell p-value table (|cells| rows)",
    # b bootstrap replicate means: parameter-bounded
    "w_bootstrap_mean_price": "bootstrap replicate means (b rows)",
    # part-key vocabulary rank (docstring: vocabulary window)
    "w_topn_parts_revenue": "key-vocabulary rank for top-n fold",
    # single-query search: rank over the posting slice of the fixed
    # query terms + a top-50 cosine list — one query at a time, the
    # accepted search posture (not a per-row fan-out)
    "p_rrf_hybrid_search": "single-query posting-slice rank lists",
}


@pytest.fixture(scope="module")
def entry():
    import __spark_entry__ as e
    return e


def test_no_unaudited_keyless_windows(spark, entry):
    from keyless_window_scan import keyless_window_specs
    offenders = {}
    for name, fn in entry.queries().items():
        try:
            plan = fn(spark, SF_DIR)._jdf.queryExecution() \
                .optimizedPlan().toString()
        except Exception as exc:
            offenders[name] = f"failed to plan: {exc}"
            continue
        specs = keyless_window_specs(plan)
        if specs and name not in KEYLESS_AUDITED:
            offenders[name] = specs[0]
    assert not offenders, (
        "keyless (single-partition) windows outside the audited "
        f"allowlist — re-plan via distkit, don't allowlist: "
        f"{offenders}")


def test_allowlist_entries_still_exist(entry):
    gone = [n for n in KEYLESS_AUDITED if n not in entry.queries()]
    assert not gone, f"stale allowlist entries: {gone}"


def test_replanned_ops_values_match_keyless_form(spark):
    """The r11 re-plans (epoch_shuffle, pack_sequences global mode,
    kaplan_meier, rfm_segments ntile, psi_drift global) must produce
    IDENTICAL values to the single-partition window spelling."""
    from pyspark.sql import Window, functions as F

    from zef_spark.pipeline.corpus import epoch_shuffle, pack_sequences
    from zef_spark.pipeline.funnel import kaplan_meier, rfm_segments

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "n_chars")
    # epoch_shuffle == rank of md5(key:epoch)
    got = {r["doc_id"]: r["epoch_pos"]
           for r in epoch_shuffle(docs, "doc_id", 3).collect()}
    h = F.md5(F.concat(F.col("doc_id").cast("string"),
                       F.lit(":epoch3")))
    want = {r["doc_id"]: r["p"] for r in docs.withColumn(
        "p", F.row_number().over(Window.orderBy(h.asc(), "doc_id"))
        .cast("long") - 1).collect()}
    assert got == want

    # pack_sequences global == keyless cumsum binning
    toks = docs.withColumnRenamed("n_chars", "n_tokens")
    got = {r["doc_id"]: (r["pack_id"], r["pack_offset"])
           for r in pack_sequences(toks, "doc_id", "n_tokens",
                                   512).collect()}
    w = Window.orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, 0)
    n = F.least(F.col("n_tokens").cast("long"), F.lit(512))
    want = {r["doc_id"]: (r["pid"], r["off"]) for r in
            toks.withColumn("__c", F.sum(n).over(w))
            .withColumn("pid", F.greatest(
                F.floor((F.col("__c") - 1) / 512), F.lit(0)))
            .withColumn("off", (F.col("__c") - n) % 512).collect()}
    assert got == want

    # kaplan_meier == keyless two-window form on continuous durations
    subj = spark.createDataFrame(
        [(float(d), int(d * 7 % 3 != 0)) for d in range(1, 200)]
        + [(13.0, 1), (13.0, 0), (50.0, 1)],
        "dur double, obs int")
    got = {r["duration"]: (r["n_at_risk"], r["n_deaths"],
                           r["survival"])
           for r in kaplan_meier(subj, "dur", "obs").collect()}
    wd = Window.orderBy(F.col("duration").desc()).rowsBetween(
        Window.unboundedPreceding, 0)
    wa = Window.orderBy("duration").rowsBetween(
        Window.unboundedPreceding, 0)
    km = (subj.groupBy(F.col("dur").alias("duration"))
          .agg(F.sum(F.col("obs").cast("long")).alias("nd"),
               F.count(F.lit(1)).alias("t")))
    r = km.withColumn("ar", F.sum("t").over(wd))
    ratio = F.lit(1.0) - F.col("nd") / F.col("ar").cast("double")
    term = F.when(ratio > 0, F.round(F.log(ratio), 12)
                  .cast("decimal(38,12)"))
    z = F.max((ratio == 0).cast("int")).over(wa)
    ls = F.sum(term).over(wa)
    sv = F.when(z == 1, F.lit(0.0)).otherwise(
        F.round(F.exp(ls.cast("double")), 6))
    want = {r_["duration"]: (r_["ar"], r_["nd"], r_["sv"])
            for r_ in r.select("duration", "ar", "nd",
                               sv.alias("sv")).collect()}
    assert got == want

    # rfm tiles == ntile windows
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {r["user"]: (r["r"], r["f"], r["m"], r["segment"])
           for r in rfm_segments(ev).collect()}
    conv = ev.where(F.col("event_type") == "purchase")
    pu = conv.groupBy(F.col("user_id").alias("user")).agg(
        F.max("ts").alias("last"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("monetary"))
    mx = conv.agg(F.max("ts").alias("asof"))
    sc = pu.crossJoin(F.broadcast(mx)).withColumn(
        "recency_days", F.datediff(F.col("asof").cast("date"),
                                   F.col("last").cast("date")))
    want = {r["user"]: (r["r"], r["f"], r["m"],
                        f'{r["r"]}{r["f"]}{r["m"]}')
            for r in sc
            .withColumn("r", F.ntile(5).over(
                Window.orderBy(F.desc("recency_days"),
                               F.asc("user"))))
            .withColumn("f", F.ntile(5).over(
                Window.orderBy(F.asc("frequency"), F.asc("user"))))
            .withColumn("m", F.ntile(5).over(
                Window.orderBy(F.asc("monetary"), F.asc("user"))))
            .collect()}
    assert got == want
