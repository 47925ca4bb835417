"""One-off r12 re-measure: after the hof single-scan cache form was
reverted (two-scan + unhinted join is the shipped shape), re-record
the re-coupled slots' sf1/sf10 walls in SCALE_SF10.json — the panel
that produced the current file measured the CACHE form for them — and
re-measure the two GEMM slots whose panel cells moved without a code
change (q_knn_join, q_ann_bruteforce) to separate box effect from
real drift. Patches SCALE_SF10.json in place (sf1/sf10/growth/
plan_stable) and appends the ``hof_form_ab`` block from
/tmp/hof_form_ab.json when present (the output of the r12 A/B script,
removed since; SCALE_SF10.json keeps the recorded block).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SLOTS = [
    "q_flatten_softmax",
    "q_sort_argsort",
    "q_cartesian_combinations",
    "q_pad_fill_none",
    "q_reduce_order_count",
    "q_concatenate",
    "q_parquet_roundtrip",
    "q_knn_join",
    "q_ann_bruteforce",
]
SF1 = "/root/repo/.scaledata/sf1"
SF10 = "/root/repo/.scaledata/sf10"


def main() -> None:
    from bench import _plan_signature
    from dask_awkward_sandbox_spark.plans import QUERIES
    from dask_awkward_sandbox_spark.session import get_spark

    spark = get_spark("r12-remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALE_SF10.json",
    )
    rec = json.load(open(path))
    for name in SLOTS:
        sig1 = _plan_signature(QUERIES[name](spark, SF1))
        sig10 = _plan_signature(QUERIES[name](spark, SF10))
        walls = {}
        for key, d in (("sf1", SF1), ("sf10", SF10)):
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                QUERIES[name](spark, d).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            walls[key] = round(best, 3)
        rec["sf1"][name] = walls["sf1"]
        rec["sf10"][name] = walls["sf10"]
        rec["growth_sf10_vs_sf1"][name] = round(
            walls["sf10"] / walls["sf1"], 2
        )
        rec["plan_stable"][name] = sig1 == sig10
        if sig1 == sig10:
            rec.get("plan_delta", {}).pop(name, None)
        else:
            rec.setdefault("plan_delta", {})[name] = {
                "only_sf1": {k: v for k, v in sig1.items() if sig10.get(k) != v},
                "only_sf10": {k: v for k, v in sig10.items() if sig1.get(k) != v},
            }
        print(
            f"# {name}: sf1 {walls['sf1']}s sf10 {walls['sf10']}s "
            f"growth {rec['growth_sf10_vs_sf1'][name]}x "
            f"stable={rec['plan_stable'][name]}",
            file=sys.stderr,
        )
    rec["plans_stable"] = all(rec["plan_stable"].values())
    ab_path = "/tmp/hof_form_ab.json"
    if os.path.exists(ab_path):
        rec["hof_form_ab"] = json.load(open(ab_path))
    rec["r12_remeasure_note"] = (
        "re-coupled slots re-recorded on the shipped two-scan+unhinted "
        "form (the panel run measured the rejected cache form for "
        "them); q_knn_join/q_ann_bruteforce re-measured to separate "
        "box effect from drift"
    )
    json.dump(rec, open(path, "w"), indent=2)
    print(json.dumps({k: rec[k] for k in ("hof_form_ab",) if k in rec}))


if __name__ == "__main__":
    main()
