"""Scan every registered query's OPTIMIZED plan for keyless windows —
a Window whose windowspecdefinition has an ORDER BY but no partition
columns collapses its whole input onto one task (the r09 ROC trap).

Detection: in the optimized-plan text, each `windowspecdefinition(...)`
lists partition columns first (bare expressions), then order columns
(marked ASC/DESC), then the frame. If every argument before
`specifiedwindowframe` carries an ASC/DESC marker, the partition spec
is empty. Usage: python tools/keyless_window_scan.py [sf_dir]
"""

from __future__ import annotations

import re
import os
import sys

# the checkout this tool sits in
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def keyless_window_specs(plan_text: str) -> list[str]:
    """Return the windowspecdefinition(...) snippets with an empty
    partition spec (all pre-frame args are ASC/DESC order columns)."""
    out = []
    for m in re.finditer(r"windowspecdefinition\(", plan_text):
        start = m.end()
        depth, i = 1, start
        while i < len(plan_text) and depth:
            if plan_text[i] == "(":
                depth += 1
            elif plan_text[i] == ")":
                depth -= 1
            i += 1
        body = plan_text[start:i - 1]
        # split top-level commas
        args, buf, d = [], [], 0
        for ch in body:
            if ch == "(":
                d += 1
            elif ch == ")":
                d -= 1
            if ch == "," and d == 0:
                args.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
        args.append("".join(buf).strip())
        pre_frame = [a for a in args
                     if not a.startswith("specifiedwindowframe")]
        # Structural exemption (r12): the prefix engine's offset
        # window orders ONLY by `__rid` — spark_partition_id() of an
        # n_ranges-way repartitionByRange — so its input is bounded
        # at n_ranges rows by construction (distkit.range_offsets).
        # A keyless window over that frame is metadata-sized, not
        # the r09 trap. Any other keyless window still flags.
        if pre_frame and all(a.startswith("__rid#") for a in pre_frame):
            continue
        if pre_frame and all((" ASC" in a or " DESC" in a)
                             for a in pre_frame):
            out.append("windowspecdefinition(" + body[:120])
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else \
        "/root/testdata/sf0.001"
    from zef_spark.session import get_spark
    import __spark_entry__ as e
    spark = get_spark()
    hits, errs = {}, {}
    for name, fn in e.queries().items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .optimizedPlan().toString()
        except Exception as exc:
            errs[name] = str(exc)[:200]
            continue
        bad = keyless_window_specs(plan)
        if bad:
            hits[name] = bad
    for name, specs in sorted(hits.items()):
        print(f"KEYLESS {name}")
        for s in specs[:3]:
            print(f"    {s}")
    for name, err in sorted(errs.items()):
        print(f"ERROR {name}: {err}")
    print(f"\n{len(hits)} queries with keyless windows, "
          f"{len(errs)} errors, of {len(e.queries())} registered")


if __name__ == "__main__":
    main()
