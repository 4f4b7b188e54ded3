"""Traced runs of every workload, and the check that each workload
stresses the layer it was chosen for. Writes perfbench/layers.json.

    python3 perfbench/layers.py [--seed 7] [--seconds S]

Runs `run.py --trace 1` once per workload (all four, also those that
BENCHMARK.json leaves out), then checks:
  - operators.construct_s is a larger share of the traced pass on
    llm_iterative than on relational;
  - stream.batches is above 0 only on stream_write;
  - sched.tasks_per_stage, and exec.task_run_s as a share of the traced
    pass, are highest on scaled_compute;
  - trace.overhead_frac is reported, and every span check passed.
"""
import argparse
import json
import os
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import workloads  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, "perfbench", "layers.json")


def traced(workload, seed, seconds):
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"{workload} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    a = ap.parse_args()
    runs = {}
    for wl in workloads.WORKLOADS:
        line, info = traced(wl, a.seed, a.seconds)
        m = {k: v["value"] for k, v in line["metrics"].items()}
        wall = info["traced_pass_s"]
        runs[wl] = {
            "correct": line["correct"], "attempted": line["attempted"],
            "failed": line["failed"], "traced_pass_s": wall,
            "span_check_violations": info["span_check_violations"],
            "construct_share": m["operators.construct_s"] / wall,
            "task_run_share": m["exec.task_run_s"] / wall,
            "driver_gap_share": m["sched.driver_gap_s"] / wall,
            "metrics": m}
        print(f"[layers] {wl}: construct {runs[wl]['construct_share']:.2f}, "
              f"task_run {runs[wl]['task_run_share']:.2f}, "
              f"tasks/stage {m['sched.tasks_per_stage']:.2f}, "
              f"batches {m['stream.batches']:.0f}", file=sys.stderr, flush=True)

    def top(key, metric=False):
        val = (lambda w: runs[w]["metrics"][key]) if metric else (lambda w: runs[w][key])
        return max(runs, key=val)

    checks = {
        "construct_share_llm_iterative_over_relational":
            runs["llm_iterative"]["construct_share"] > runs["relational"]["construct_share"],
        "stream_batches_only_on_stream_write": all(
            (r["metrics"]["stream.batches"] > 0) == (w == "stream_write")
            for w, r in runs.items()),
        "tasks_per_stage_highest_on_scaled_compute":
            top("sched.tasks_per_stage", metric=True) == "scaled_compute",
        "task_run_share_highest_on_scaled_compute": top("task_run_share") == "scaled_compute",
        "trace_overhead_reported": all(
            isinstance(r["metrics"].get("trace.overhead_frac"), float) for r in runs.values()),
        "span_checks_pass": all(r["span_check_violations"] == 0 for r in runs.values()),
        "all_correct": all(r["correct"] for r in runs.values()),
    }
    with open(OUT, "w") as fh:
        json.dump({"seed": a.seed, "seconds": a.seconds, "checks": checks, "runs": runs},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")
    for k, ok in checks.items():
        print(f"{'ok  ' if ok else 'FAIL'} {k}")
    return 0 if all(checks.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
