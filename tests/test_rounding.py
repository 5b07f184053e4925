"""functions/rounding.py + the check_oracle round-magnitude lint
(r07 verdict order #3): the Spark and DuckDB forms of magnitude-safe
rounding must agree bit-for-bit, and the lint must fail exactly the
r07 FP-fragile shapes while passing grid-artifact reprs, raw doubles,
and ≤9-total-digit outputs."""

import math

import pytest

VALUES = [
    0.0, 1.0, -1.0,
    0.000123456789, -0.000123456789,        # tiny: digits cap at 6
    0.123456789123,
    3.141592653589793,
    -24266.363239081532,                    # r07 intercept shape
    159082.15786701123,                     # r07 slope·1e5 shape
    758148310.9577431,                      # r07 dp_sum shape
    -758148310.9577431,
    123456789.987654321,
    1.23456789e15,
    -9.87654321e17,
    1.5e19,                                 # beyond bigint floor
    999999999.5,                            # 9-digit boundary
    1000000000.5,                           # 10-digit boundary
]


def test_round_sig_safe_matches_duckdb(spark):
    import duckdb
    from pyspark.sql import functions as F
    from zef_spark.functions.rounding import (round_sig_safe,
                                              sql_round_sig_safe)
    df = spark.createDataFrame([(v,) for v in VALUES] + [(None,)],
                               "x double")
    got = [r["r"] for r in
           df.select(round_sig_safe(F.col("x")).alias("r"))
           .collect()]
    con = duckdb.connect()
    want = []
    for v in VALUES + [None]:
        lit = "CAST(NULL AS DOUBLE)" if v is None else f"{v!r}::DOUBLE"
        want.append(con.execute(
            f"SELECT {sql_round_sig_safe('x')} FROM "
            f"(SELECT {lit} AS x)").fetchone()[0])
    for v, g, w in zip(VALUES + [None], got, want):
        assert (g is None and w is None) or repr(g) == repr(w), \
            f"in={v!r} spark={g!r} duck={w!r}"


def test_round_sig_safe_caps_significant_digits(spark):
    from pyspark.sql import functions as F
    from zef_spark.functions.rounding import round_sig_safe
    df = spark.createDataFrame([(v,) for v in VALUES], "x double")
    for v, r in zip(VALUES, df.select(
            round_sig_safe(F.col("x")).alias("r")).collect()):
        out = r["r"]
        if out == 0.0:
            continue
        # ≤9 significant digits: the value must sit on the grid
        # 10^(int_digits - 9) exactly
        a = abs(out)
        int_digits = 0 if a < 1.0 else len(str(int(a)))
        d = min(6, 9 - int_digits)
        assert round(out, d) == out, f"{v!r} -> {out!r} off-grid"


def test_lint_flags_r07_fragile_shapes():
    from tools.check_oracle import round_magnitude_violations
    # the two r07 driver-red shapes: fine grid × large magnitude
    assert round_magnitude_violations(
        "q", ["intercept"], [(-24266.363239,)])
    assert round_magnitude_violations(
        "q", ["dp_sum"], [(758148310.957743,)])


def test_lint_passes_safe_shapes():
    from tools.check_oracle import round_magnitude_violations
    rows = [(
        2850.3199999999997,   # 2-dp grid value with repr noise
        0.9895470383275261,   # raw double (no grid ≤12 reproduces it)
        160000.123,           # exactly 9 total significant digits
        0.000268,             # tiny, 6 dp
        758148311.0,          # integer-valued release (d=0)
        None,
    )]
    cols = ["mad", "jaccard", "edge9", "tiny", "release", "nul"]
    assert round_magnitude_violations("q", cols, rows) == []


def test_lint_respects_allowlist():
    from tools.check_oracle import (ROUND_MAG_OK,
                                    round_magnitude_violations)
    assert round_magnitude_violations(
        "e_funnel_time_stats", ["p50"], [(115654.508954,)]) == []
    # every allowlist entry carries a written proof
    assert all(len(v) > 20 for v in ROUND_MAG_OK.values())


def test_strict_repr_is_default():
    import tools.check_oracle as co
    assert co.STRICT_REPR, \
        "driver-hash fidelity (raw repr compare) must be the default"


def test_round_sig_safe_property_matches_duckdb(spark):
    """Property form of the equivalence: ~200 adversarial doubles —
    random magnitudes including near-grid and near-power-of-10
    values — must round identically in Spark and DuckDB. Uses a
    fixed-seed generator (house rule: no ambient randomness)."""
    import random
    import duckdb
    from pyspark.sql import functions as F
    from zef_spark.functions.rounding import (round_sig_safe,
                                              sql_round_sig_safe)
    rng = random.Random(2008)
    vals = []
    for _ in range(120):
        mag = rng.uniform(-12, 16)
        vals.append(rng.uniform(-1, 1) * (10.0 ** mag))
    # near-grid adversaries: x.xxxxx5 shapes at several magnitudes
    for m in (0, 2, 5, 8, 11):
        base = 10.0 ** m
        for frac in (0.1234565, 0.9999995, 0.0000005):
            vals.append(base * (1 + frac))
            vals.append(-base * (1 + frac))
    # near-power-of-10 magnitude boundaries
    for m in range(-3, 12):
        p = 10.0 ** m
        vals += [p, p * (1 - 1e-15), p * (1 + 1e-15)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = [r["r"] for r in
           df.select(round_sig_safe(F.col("x")).alias("r")).collect()]
    con = duckdb.connect()
    sql = sql_round_sig_safe("x")
    diffs = []
    for v, g in zip(vals, got):
        w = con.execute(f"SELECT {sql} FROM (SELECT ?::DOUBLE AS x)",
                        [v]).fetchone()[0]
        if repr(g) != repr(w):
            diffs.append((v, g, w))
    assert not diffs, f"{len(diffs)} divergent: {diffs[:5]}"
