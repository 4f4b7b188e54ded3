"""Self-test of the benchmark's failure accounting.

Injects two queries into the benchmark's own query list, beside two real
ones: `selftest_throw` throws, and `selftest_wrong_count` returns 7 rows
where the injected expectation says 5. Asserts that both read as failed in
every pass, that neither contributes a latency sample, and that a run
carrying them is not reported correct. Then feeds the traced run's span
check one well-formed span and pass and several broken ones (a job outside
its query, child spans out of order, a pass wall that does not hold its
query spans), and asserts that the check fires on each broken one only.

    python3 perfbench/selftest.py
"""
import json
import math
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402

REAL = ["filter_simple", "agg_global"]
INJECTED = {"selftest_throw": 1, "selftest_wrong_count": 5}


def main():
    cat = run.catalog(build.build())
    data_dir = inputs.base_dir()
    expected = inputs.oracle_counts(data_dir, REAL, cat["oracle"], sys.stderr)
    expected.update(INJECTED)
    wl = workloads.Workload("selftest", REAL + list(INJECTED), "base")
    line, info = run.run(wl, seed=1, seconds=0, trace=False, data_dir=data_dir,
                         expected=expected, selftest=True)
    measured = wl.measured_cycles * wl.cycle
    passes = 1 + wl.warmup_cycles * wl.cycle + measured  # cold, warm-up, measured
    problems = []
    if line["correct"]:
        problems.append("a run with injected failures reads correct")
    if line["failed"] != 2 * passes:
        problems.append(f"failed = {line['failed']}, want {2 * passes}")
    if line["attempted"] != len(wl.queries) * passes:
        problems.append(f"attempted = {line['attempted']}, want {len(wl.queries) * passes}")
    if info["failed_queries"] != sorted(INJECTED):
        problems.append(f"failed queries {info['failed_queries']}, want {sorted(INJECTED)}")
    if not math.isclose(info["failed_frac"], 0.5):
        problems.append(f"failed_frac {info['failed_frac']}, want 0.5")
    if info["latency_samples"] != len(REAL) * measured:
        problems.append(f"{info['latency_samples']} latency samples, want only the "
                        f"{len(REAL) * measured} real measured warm executions")
    # 4 warm executions per pass, 2 of them failed: the median rank lands on
    # the slowest real execution, the p90 rank on a failure (no value)
    if info["query_p90_s"] is not None:
        problems.append("query_p90_s has a value although 50 % of executions failed")
    p50 = info["query_p50_s"]
    if p50 is None or p50 <= 0:
        problems.append(f"query_p50_s = {p50}, want the slowest real latency")
    problems += span_check()
    for p in problems:
        print(f"[selftest] FAIL {p}", file=sys.stderr)
    print("[selftest] " + ("FAILED" if problems else "ok: injected failures read as failed"))
    return 1 if problems else 0


def span_check():
    run_dir = run.new_run_dir("spancheck")
    out = os.path.join(run_dir, "spancheck.json")
    try:
        run.jvm(["spancheck", out], run_dir, timeout=120)
        with open(out) as fh:
            found = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    problems = []
    for case, n in sorted(found.items()):
        if case.startswith("good") and n != 0:
            problems.append(f"span check flags the well-formed case {case} ({n})")
        if not case.startswith("good") and n == 0:
            problems.append(f"span check misses the broken case {case}")
    if len(found) < 6:
        problems.append(f"span check ran {len(found)} cases, want 6")
    return problems


if __name__ == "__main__":
    sys.exit(main())
