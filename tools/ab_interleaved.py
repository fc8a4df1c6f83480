#!/usr/bin/env python
"""Interleaved same-session A/B timing harness.

Solo back-to-back runs drift with host noise and JIT ramp (OPTIMIZATION_r09
"Measurement notes"); interleaving the arms inside ONE session makes those
factors hit both arms equally, so the per-rep ratios are comparable.

    python tools/ab_interleaved.py VARIANTS_FILE [--sf DIR] [--reps N]

VARIANTS_FILE is a python file defining ``VARIANTS: dict[str, fn]`` where
each fn is ``fn(spark, sf_dir) -> DataFrame``; every run follows
bench.py's run-once contract (``bench.time_once``: built inside the
timer, noop sink, clearCache after), and the cold rep is discarded. If
the file also defines ``CHECK = True``, the arms' results are first
compared row-for-row (sorted collect) and the A/B aborts on any
mismatch.

To re-time catalog queries in a fresh session, away from the position
and session state of a full bench run, the variants file is:

    from cost_of_living_data_etl_spark.plans import catalog
    VARIANTS = {n: catalog()[n].fn for n in ["q1_pricing_summary", "q4_order_priority"]}
"""

from __future__ import annotations

import argparse
import importlib.util
import sys
from pathlib import Path
from statistics import median

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from bench import time_once  # noqa: E402
from cost_of_living_data_etl_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("variants_file")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--reps", type=int, default=4)
    args = ap.parse_args()

    spec = importlib.util.spec_from_file_location("variants", args.variants_file)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    variants = mod.VARIANTS

    spark = get_spark(app_name="ab-interleaved")
    spark.sparkContext.setLogLevel("ERROR")

    if getattr(mod, "CHECK", False):
        rows = {}
        for label, fn in variants.items():
            df = fn(spark, args.sf)
            rows[label] = sorted(
                tuple(r) for r in df.collect()
            ), sorted(df.columns)
        labels = list(rows)
        base = rows[labels[0]]
        for lb in labels[1:]:
            if rows[lb][1] != base[1]:
                print(f"MISMATCH columns {labels[0]} vs {lb}")
                return 2
            if rows[lb][0] != base[0]:
                print(f"MISMATCH rows {labels[0]} vs {lb}:"
                      f" {len(base[0])} vs {len(rows[lb][0])}")
                for a, b in zip(base[0], rows[lb][0]):
                    if a != b:
                        print("  first diff:", a, "vs", b)
                        break
                return 2
        print(f"CHECK ok: {len(base[0])} rows identical across arms")
        spark.catalog.clearCache()

    # cold pass (codegen compile), discarded
    for label, fn in variants.items():
        t, _ = time_once(spark, fn, args.sf)
        print(f"cold {label}: {t:.2f}s")

    times: dict[str, list[float]] = {k: [] for k in variants}
    for rep in range(args.reps):
        # ALTERNATE arm order per rep: a fixed order lets every later
        # arm ride the earlier arm's page-cache/JIT warmth — a
        # fixed-order A/B of a conf that provably changed NOTHING
        # (identical executed plans) showed a reproducible −10-20%
        # "win" for whichever arm ran second. Alternation cancels the
        # position bias across reps.
        order = list(variants.items())
        if rep % 2 == 1:
            order.reverse()
        for label, fn in order:
            t, _ = time_once(spark, fn, args.sf)
            times[label].append(t)
            print(f"rep{rep} {label}: {t:.2f}s", flush=True)
    print("---")
    for label, ts in times.items():
        print(f"{label}: min {min(ts):.2f}  med {median(ts):.2f}  reps {['%.2f' % t for t in ts]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
