"""Local stand-in for the driver's t2 correctness gate: run each
__spark_entry__ query on Spark AND its oracle SQL on DuckDB over the
same parquet, compare row-count, column names, and order-insensitive
values. Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Vacuity guard (r05 verdict §2): a PASS on 0 rows proves nothing —
# empty==empty let a dead literal ('GERMANY' vs NATION_* fixtures) sit
# green through three tri-scale sweeps. Queries whose EXPECTED result
# is empty must be allowlisted here; everything else fails on 0 rows.
INTENTIONALLY_EMPTY: set[str] = set()


def duck_run(sf_dir: str, sql: str):
    import os as _os

    import duckdb
    con = duckdb.connect()
    # Bound the replay instead of letting DuckDB default to ~80% of
    # RAM: an sf5 shingle/banded replay next to the live Spark JVM
    # OOM-killed the r11 sweep mid-run. With a cap + temp dir DuckDB
    # SPILLS the big sorts/joins and finishes slow instead of dying.
    # default memory cap: min(48GB, 50% of detected host RAM) — a
    # fixed 48GB only bounds DuckDB on hosts with MORE than that
    # (the r11 advisory); CHECK_DUCK_MEM still overrides.
    def _default_mem():
        try:
            with open("/proc/meminfo") as fh:
                kb = int(next(ln for ln in fh
                              if ln.startswith("MemTotal")).split()[1])
            return f"{min(48, max(1, kb // 2048 // 1024))}GB"
        except (OSError, StopIteration, ValueError):
            return "48GB"
    con.execute(f"SET memory_limit='"
                f"{_os.environ.get('CHECK_DUCK_MEM', _default_mem())}'")
    # Spill dir is configurable (CHECK_DUCK_TMP) so big-sf sweeps can
    # point it at the roomiest volume — the r11 sf5 top-30 run lost 3
    # rows to ENOSPC on /tmp, and a killed replay once orphaned 58 GB
    # of temp files there. The connection is closed in a finally so a
    # completed replay always releases its spill immediately.
    spill = _os.environ.get("CHECK_DUCK_TMP", "/tmp/duck_spill")
    _os.makedirs(spill, exist_ok=True)
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark writes a table as a DIRECTORY of part files (the
        # gen_scale sf1/sf5 fixtures); the driver fixtures are single
        # files — glob the directory form so the oracle reads both
        if _os.path.isdir(p):
            p = f"{p}/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    try:
        return con.execute(sql).fetchdf()
    finally:
        con.close()


# r07 verdict order #3: the driver hashes RAW float renderings, so the
# local gate must compare repr(float) EXACTLY — the old %.9g
# canonicalization masked last-ulp cross-engine divergence twice in a
# row (r06 Decimal rendering, r07 e_linreg_trend / w_dp_priority_stats
# FP fragility). Strict mode is the DEFAULT; set CHECK_LENIENT=1 only
# to triage how far apart a red row is.
STRICT_REPR = os.environ.get("CHECK_LENIENT", "") != "1"


def normalize(rows, cols):
    """Sort columns by name, stringify values (raw repr by default —
    driver-hash fidelity; CHECK_LENIENT=1 falls back to 9 sig figs),
    sort rows — order-insensitive canonical form.

    Dtype-STRICT on numeric kind: int-kind and float-kind values get
    distinct prefixes so an oracle column that DuckDB widens to
    HUGEINT/decimal-→-float can never string-match a Spark bigint
    here while failing the driver's value-hash (the r04
    p_pack_sequences artifact). Decimals canonicalize to float-kind —
    that matches how the driver's hash renders them on both sides.
    """
    import numpy as np
    from decimal import Decimal
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def canon(v):
        if v is None:
            return "∅"
        import pandas as pd
        if v is pd.NaT:
            return "∅"
        if isinstance(v, (bool, np.bool_)):
            return "b:" + str(bool(v)).lower()
        if isinstance(v, Decimal):
            v = float(v)
        if isinstance(v, (float, np.floating)):
            if math.isnan(v):
                return "∅"
            return (f"f:{float(v)!r}" if STRICT_REPR
                    else f"f:{float(v):.9g}")
        if isinstance(v, (int, np.integer)):
            return f"i:{int(v)}"
        return str(v)
    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


# r07 verdict order #3 (second half): lint any float output column
# that sits on a rounding grid ROUND(expr, d) where magnitude × 10^d
# exceeds 1e9 — i.e. the ROUND demands more total significant digits
# of cross-engine double agreement than FMA-variant IEEE arithmetic
# guarantees. Detection is runtime: the effective grid d is the
# smallest d ≤ 12 whose round(v, d) reproduces the exact double
# (immune to repr noise like 2850.3199999999997 ≡ grid d=2); values
# matching no grid are RAW doubles — not ROUND outputs — and are
# governed by the strict repr compare instead (a raw double from one
# exact division is deterministic; a raw double from messy libm
# arithmetic fails strict compare on its own).
#
# Allowlist (name → proof) ONLY for queries whose >9-digit columns
# are deterministic BY CONSTRUCTION: decimal-exact values followed by
# single correctly-rounded IEEE ops (÷, √, −: required exact by
# IEEE-754 for identical inputs, and immune to FMA contraction, which
# needs a multiply-ADD pattern), exact element selection
# (PERCENTILE_DISC / row_number picks), or raw replay of an identical
# literal expression tree on both engines. Multiply-add chains
# (a*b + c) do NOT qualify — that is the exposure class this lint
# exists for.
ROUND_MAG_OK: dict[str, str] = {
    "e_funnel_time_stats": "p50/p90 PERCENTILE_DISC pick exact "
        "elements gs = int-µs/1e6 (one ÷); mean = exact-int Σµs ÷ n "
        "÷ 1e6 (chained correctly-rounded ÷)",
    "w_bootstrap_mean_price": "replicate means = decimal-exact Σwx ÷ "
        "int nw (one ÷); lo/hi PERCENTILE_DISC pick exact elements; "
        "mean = decimal Σ ÷ count",
    "e_forecast_naive7": "mae/bias/mape/smape = decimal-exact Σ ÷ "
        "int n (one ÷); rmse = √(Σ ÷ n) — ÷ and √ both correctly "
        "rounded",
    "w_welch_acctbal": "mean_a/mean_b = decimal-exact Σ ÷ int n (one "
        "÷); t/dof/cohens_d magnitudes stay ≤9 total digits at 6 dp",
    "w_trimmed_mean_price": "tmean = decimal-exact Σkept ÷ int "
        "n_used (one ÷); trim cut is integer-rank floor semantics",
    "gql_aggregate_orders": "sums decimal-exact; avgs = decimal Σ ÷ "
        "count (one ÷)",
    "e_lag_features_daily": "x/lag decimal-exact; delta = one "
        "correctly-rounded −; rmean_7 = decimal window-Σ ÷ 7 (one ÷)",
    "e_ewma_user_value": "deliberate RAW replay: both engines fold "
        "the identical literal (1−a)·y + a·x per row (docstring at "
        "the query explains why rounding would ADD divergence); "
        "residual FMA-contraction exposure is accepted and the "
        "strict repr compare guards it every sweep",
    "e_holt_forecast": "same raw-replay contract as e_ewma — "
        "identical literal recursion both engines, strict-compared "
        "raw",
    "e_interval_coverage": "covered_seconds = exact integer-µs Σ ÷ "
        "1e6 (one correctly-rounded ÷); the µs total lands on an "
        "accidental ≤6-decimal grid, which the lint's grid sniffing "
        "cannot tell from a ROUND",
    "p_association_rules": "lift = (n·pair_count)/(c_a·c_b): exact "
        "int64 products, ONE correctly-rounded ÷ (both engines cast "
        "the identical exact ints to double); support/confidence are "
        "each one exact-int ÷ too. Magnitude crossed 9 digits at sf1 "
        "(lift 2516.85… on rare pairs) — the ratio stays exact at "
        "any scale below 2^53 numerators",
    "e_seasonal_decompose": "trend = decimal-exact window-Σ (round-12 "
        "terms) cast double, −0.5·endpoint twice (0.5·x is exact), "
        "÷ period — a fixed chain on bit-identical inputs, one "
        "correctly-rounded ÷; daily sums crossed 9 digits at sf1 "
        "(trend 6658.57…) with the chain unchanged",
    "w_cuped_price_quantity": "mean_a/mean_b = decimal-exact Σ ÷ int "
        "n (one ÷, the welch proof); theta/adjusted means/diff/vr "
        "are sig-safe-rounded multiply-add chains",
    "e_mase_daily_value": "mae/mae_naive = decimal-exact Σ|e| ÷ int n "
        "(one ÷, the e_forecast_naive7 proof); mase itself is "
        "sig-safe-rounded",
}


def round_magnitude_violations(name: str, cols, rows) -> list[str]:
    """Return 'col=value' examples of >9-sig-digit gridded floats."""
    import numpy as np
    if name in ROUND_MAG_OK:
        return []
    bad = []
    flagged = set()
    for i, c in enumerate(cols):
        if c in flagged:
            continue
        for r in rows:
            v = r[i]
            if v is None:
                continue  # NULL row: keep scanning — the CASE/NULL-
                # guarded float columns (z, kappa, h_corrected) are
                # exactly the ones this lint targets
            if not isinstance(v, (float, np.floating)):
                break  # genuinely non-float column
            v = float(v)
            if math.isnan(v) or math.isinf(v) or v == 0.0:
                continue
            d = next((d for d in range(13) if round(v, d) == v), None)
            if d is None:
                continue  # raw double, not a ROUND output
            if d < 4:
                # coarse grids (d<=3) past 9 digits are, in this
                # engine, decimal money aggregates by construction
                # (TPC-H DECIMAL(15,2) sums cast once to double —
                # bit-identical cross-engine); the fragility class
                # this lint exists for is FINE grids over double
                # arithmetic (both r07 reds were d=6). Coarse-grid
                # columns stay guarded by the strict repr compare.
                continue
            a = abs(v)
            int_digits = 0 if a < 1.0 else len(str(int(a)))
            if int_digits + d > 9:
                bad.append(f"{c}={v!r}")
                flagged.add(c)
                break
    return bad


# r06 verdict order #1: the driver hashes RAW value renderings, so a
# Spark DECIMAL(28,2) "1166.10" can never match the DuckDB→pandas float
# "1166.1" even when numerically identical (the e_rfm_segments red row).
# normalize() canonicalizes Decimal→float, which MASKS exactly that
# class locally — so strict-decimal mode (default ON) fails any query
# whose Spark output schema still contains a DecimalType column.
# Allowlist only if the driver is known to hash it green.
DECIMAL_OK: set[str] = set()


def decimal_output_cols(sdf) -> list[str]:
    from pyspark.sql.types import DecimalType
    return [f.name for f in sdf.schema.fields
            if isinstance(f.dataType, DecimalType)]


def check(name: str, fn, sql: str, spark, sf_dir: str) -> tuple[bool, str]:
    sdf = fn(spark, sf_dir)
    dec = decimal_output_cols(sdf)
    if dec and name not in DECIMAL_OK:
        return False, (f"STRICT-DECIMAL: output cols {dec} are DecimalType"
                       " — cast to DOUBLE on both sides (driver hashes raw"
                       " renderings; '1166.10' != '1166.1')")
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    ddf = duck_run(sf_dir, sql)
    drows = [tuple(r) for r in ddf.itertuples(index=False)]
    dcols = list(ddf.columns)
    if sorted(scols) != sorted(dcols):
        return False, f"schema mismatch: spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return False, f"row count: spark={len(srows)} duck={len(drows)}"
    lint = (round_magnitude_violations(name, scols, srows)
            + round_magnitude_violations(name, dcols, drows))
    if lint:
        return False, (f"LINT-ROUND-MAGNITUDE: {sorted(set(lint))[:3]} — "
                       ">9 significant digits on a ≥4-decimal grid is "
                       "cross-engine FP-fragile; round magnitude-safely "
                       "(functions/rounding.py) or allowlist in "
                       "ROUND_MAG_OK with an exactness proof")
    a, b = normalize(srows, scols), normalize(drows, dcols)
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return False, f"value mismatch, first diffs: {diffs}"
    if not srows and name not in INTENTIONALLY_EMPTY:
        return False, ("VACUOUS: 0 rows on both sides — allowlist in "
                       "INTENTIONALLY_EMPTY only if empty is the "
                       "intended result")
    return True, f"OK ({len(srows)} rows)"


def _install_stderr_tee(path: str):
    """Mirror fd 2 into a file so the sweep can grep the JVM's log
    output afterwards (r08 verdict order #3: a janino method-size
    overflow logs `ERROR CodeGenerator: Failed to compile` and
    silently falls back to interpreted aggregation — correct locally,
    a regression-in-waiting at scale, and invisible unless the log is
    checked). Must run BEFORE the SparkSession launches the JVM so
    the JVM inherits the teed fd."""
    import threading
    orig = os.dup(2)
    r, w = os.pipe()
    os.dup2(w, 2)
    os.close(w)
    sink = open(path, "wb")

    def pump():
        while True:
            data = os.read(r, 65536)
            if not data:
                break
            os.write(orig, data)
            sink.write(data)
            sink.flush()

    threading.Thread(target=pump, daemon=True).start()
    return path


CODEGEN_PATTERNS = ("ERROR CodeGenerator", "Failed to compile")


def codegen_fallbacks(log_path: str) -> list[str]:
    try:
        with open(log_path, "rb") as f:
            text = f.read().decode("utf-8", "replace")
    except OSError:
        return []
    return [ln for ln in text.splitlines()
            if any(p in ln for p in CODEGEN_PATTERNS)]


def main():
    import __spark_entry__ as entry
    from zef_spark import get_spark
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = list(dict.fromkeys(sys.argv[2:]))  # order-preserving
    log_path = _install_stderr_tee(
        os.environ.get("CHECK_STDERR_LOG", "/tmp/check_oracle_stderr.log"))
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs, oracles = entry.queries(), entry.oracle_sql()
    # CHECK_EXCLUDE: comma-separated names to SKIP — the standing
    # sf1 sweep gate (Makefile) excludes the 3 oracle-intractable
    # rows whose proofs run via tools/sf1_stratified_oracle.py
    excl = {n for n in os.environ.get("CHECK_EXCLUDE", "").split(",")
            if n}
    failed, checked = [], 0
    # honor the COMMAND-LINE order when a subset is given — big-sf
    # sweeps pass a cost-ascending list so cheap strict rows bank
    # first (the r12 first cut iterated registry order and burned an
    # hour on 5M-row replays before the 1-row stats ever ran)
    names = only if only else list(qs)
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"  {name:40s} FAIL UNKNOWN query name")
            failed.append(name)
            continue
        if name in excl:
            print(f"  {name:40s} SKIP (CHECK_EXCLUDE)")
            continue
        checked += 1
        import time as _time
        t0 = _time.monotonic()
        if name not in oracles:
            try:
                n = fn(spark, sf_dir).count()
                if n == 0 and name not in INTENTIONALLY_EMPTY:
                    failed.append(name)
                    print(f"  {name:40s} FAIL VACUOUS (0 rows)")
                else:
                    print(f"  {name:40s} rows-only ({n} rows)")
            except Exception as e:
                failed.append(name)
                print(f"  {name:40s} ERROR {type(e).__name__}: {e}")
            continue
        try:
            ok, msg = check(name, fn, oracles[name], spark, sf_dir)
        except Exception as e:
            ok, msg = False, f"ERROR {type(e).__name__}: {str(e)[:300]}"
        # wall = Spark eval + DuckDB replay + compare, for cost-
        # ordering future big-sf sweeps and spotting replay heavies
        print(f"  {name:40s} {'PASS' if ok else 'FAIL'} {msg}"
              f"  [{_time.monotonic() - t0:.1f}s]", flush=True)
        if not ok:
            failed.append(name)
    cg = codegen_fallbacks(log_path)
    if cg:
        print(f"\nCODEGEN-FALLBACK GUARD: {len(cg)} whole-stage-codegen "
              "compile failure(s) in the sweep log — interpreted "
              "fallback is correct but a scale regression; fix the "
              "oversized generated method (pre-project expression "
              "chains) before shipping:")
        for ln in cg[:3]:
            print(f"  {ln[:200]}")
        failed.append("__codegen_fallback__")
    print(f"\n{checked - len(failed)}/{checked} pass"
          + ("" if not only else f" (subset of {len(qs)} registered)"))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
