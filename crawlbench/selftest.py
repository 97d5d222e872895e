"""Self-test of the answer checks.

    python3 crawlbench/selftest.py --seeds 1 2

For each seed it runs one ``lang_rollup`` cycle (NULL and '' lang keys,
HLL groups in both regimes) and requires that the unmodified answers
pass. Then it plants wrong answers into copies of them and requires
that each one counts as failed:

- a dropped group;
- every approximate-regime HLL estimate (and every stats1 mean) scaled
  by 1.05;
- an exact-regime count off by one (HLL sparse-regime estimate, stats1
  count);
- the NULL group merged into the '' group.

Exit code 0 when every unmodified answer passes and every plant fails.
"""

from __future__ import annotations

import argparse
import copy
import os
import shutil
import sys

import run

PLANTS = ("dropped_group", "scaled_1.05", "exact_off_by_one", "null_into_empty")


def _drop(rows, key):
    victim = next(r for r in rows if r[key] == "de")
    return [r for r in rows if r is not victim]


def _null_into_empty(rows, key, merge):
    null = next(r for r in rows if r[key] is None)
    out = [r for r in rows if r is not null]
    empty = next(r for r in out if r[key] == "")
    merge(empty, null)
    return out


def plant(kind: str, plant_name: str, rows: list[dict]) -> list[dict] | None:
    """A wrong copy of a query's answer, or None when the plant does not
    apply to that query."""
    rows = copy.deepcopy(rows)
    if plant_name == "dropped_group" and kind in ("hll", "kll", "stats1"):
        return _drop(rows, "lang")
    if plant_name == "scaled_1.05":
        if kind == "hll":
            for r in rows:
                if r["error_bound"] > 0:
                    r["distinct_count_est"] *= 1.05
            return rows
        if kind == "stats1":
            for r in rows:
                r["text_len_mean"] *= 1.05
            return rows
    if plant_name == "exact_off_by_one":
        if kind == "hll":
            r = next(r for r in rows if r["error_bound"] == 0)
            r["distinct_count_est"] += 1
            return rows
        if kind == "stats1":
            rows[0]["text_len_count"] += 1
            return rows
    if plant_name == "null_into_empty":
        if kind == "hll":
            def merge(a, b):
                a["distinct_count_est"] += b["distinct_count_est"]
        elif kind == "kll":
            def merge(a, b):
                pass  # the '' row keeps its quantiles; the NULL key is gone
        elif kind == "stats1":
            def merge(a, b):
                n = a["text_len_count"] + b["text_len_count"]
                a["text_len_mean"] = (a["text_len_mean"] * a["text_len_count"]
                                      + b["text_len_mean"] * b["text_len_count"]) / n
                a["text_len_count"] = n
        else:
            return None
        return _null_into_empty(rows, "lang", merge)
    return None


def check_seed(seed: int) -> list[str]:
    from checks import Checker
    import workloads

    problems = []
    wl_cls = workloads.WORKLOADS["lang_rollup"]
    data_dir, oracle = run.prepare_data(wl_cls, seed)
    scratch = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    wl = wl_cls(data_dir, scratch)
    wl.oracle = oracle
    spark = run.start_spark(scratch)
    try:
        wl.setup(spark)
        answers = {q.kind: (q, q.run()) for q in wl.cycle()}
    finally:
        run.shutdown_spark(spark)
    caught = {p: False for p in PLANTS}
    for kind, (q, ans) in answers.items():
        rows = [r.asDict() for r in ans]
        bad = q.check(Checker(), rows)
        print(f"seed {seed} {kind}: unmodified {'FAIL ' + bad[0] if bad else 'pass'}")
        if bad:
            problems.append(f"seed {seed}: unmodified {kind} answer failed: {bad[0]}")
        for p in PLANTS:
            wrong = plant(kind, p, rows)
            if wrong is None:
                continue
            bad = q.check(Checker(), wrong)
            print(f"seed {seed} {kind}: plant {p}: {'caught: ' + bad[0] if bad else 'MISSED'}")
            if not bad:
                problems.append(f"seed {seed}: plant {p} on {kind} not caught")
            caught[p] = caught[p] or bool(bad)
    problems += [f"seed {seed}: plant {p} applied nowhere" for p, c in caught.items() if not c]
    return problems


def main() -> int:
    ap = argparse.ArgumentParser(description="self-test of the benchmark's answer checks")
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    args = ap.parse_args()
    scratch = os.path.join(run.WORK, f"selftest-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    try:
        run.isolate(scratch)
        problems = []
        for seed in args.seeds:
            problems += check_seed(seed)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for p in problems:
        print("PROBLEM " + p)
    print("selftest " + ("FAILED" if problems else "passed"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
