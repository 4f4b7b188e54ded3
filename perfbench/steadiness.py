"""Steadiness record: runs the benchmark on ten seeds per workload, twice
(two sets of runs of the same code, interleaved run by run so that a slow
spell of the host falls on both), and writes each end-to-end metric's
median, quartiles and spread (interquartile range over median) per set,
and the shift of the second set's median against the first, to
perfbench/steadiness.json.

    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--seconds S] [workload ...]

Workloads default to those in BENCHMARK.json, seconds to its run_seconds.
Each run is a separate `run.py` process, started as an outside runner starts
it. Set s uses seeds first_seed + 1000 * s + i.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, "perfbench", "steadiness.json")


def one_run(workload, seed, seconds):
    t0 = time.perf_counter()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True, cwd=ROOT)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-1]), time.perf_counter() - t0


def summarize(values):
    q = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q[0], "q3": q[2], "spread": (q[2] - q[0]) / med,
            "values": values}


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("workloads", nargs="*", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values = {(wl, s): {} for wl in a.workloads for s in range(a.sets)}
    walls = {(wl, s): [] for wl in a.workloads for s in range(a.sets)}
    counts = {wl: [0, 0] for wl in a.workloads}
    for i in range(a.runs):
        for wl in a.workloads:
            for s in range(a.sets):
                seed = a.first_seed + 1000 * s + i
                line, wall = one_run(wl, seed, a.seconds)
                walls[(wl, s)].append(wall)
                counts[wl][0] += line["attempted"]
                counts[wl][1] += line["failed"]
                for k, v in line["metrics"].items():
                    values[(wl, s)].setdefault(k, []).append(v["value"])
                print(f"[steadiness] {wl} set {s} seed {seed}: {wall:.1f} s, "
                      f"correct={line['correct']}, "
                      + ", ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()),
                      file=sys.stderr, flush=True)
    record = {"host": {"cpus": os.cpu_count(), "machine": platform.machine(),
                       "python": platform.python_version()},
              "recorded": time.strftime("%Y-%m-%d", time.gmtime()),
              "runs_per_set": a.runs, "sets": a.sets, "seconds": a.seconds,
              "workloads": {}}
    all_walls = []
    for wl in a.workloads:
        sets = []
        for s in range(a.sets):
            metrics = {k: summarize(v) for k, v in values[(wl, s)].items()}
            for k, m in metrics.items():
                m["bound"] = bounds[k]
                m["within_bound"] = m["spread"] <= bounds[k]
                m["within_third_of_bound"] = m["spread"] < bounds[k] / 3
            sets.append({"seeds": [a.first_seed + 1000 * s, a.first_seed + 1000 * s + a.runs - 1],
                         "run_wall_s": summarize(walls[(wl, s)]), "metrics": metrics})
            all_walls += walls[(wl, s)]
        # every end-to-end metric is lower-is-better: a later set is worse
        # when its median is higher
        shift = {k: sets[-1]["metrics"][k]["median"] / sets[0]["metrics"][k]["median"] - 1.0
                 for k in sets[0]["metrics"]}
        record["workloads"][wl] = {
            "attempted": counts[wl][0], "failed": counts[wl][1], "sets": sets,
            "median_shift_last_vs_first": shift,
            "shift_within_bound": {k: v <= bounds[k] for k, v in shift.items()}}
    n_runs = 4 + 22 * len(bench["workloads"])
    record["driver_runs_estimate_s"] = n_runs * statistics.mean(all_walls)
    with open(OUT, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for wl in a.workloads:
        r = record["workloads"][wl]
        for k in r["sets"][0]["metrics"]:
            spreads = " ".join(f"{st['metrics'][k]['spread']:.3f}" for st in r["sets"])
            print(f"{wl:16s} {k:14s} median {r['sets'][0]['metrics'][k]['median']:.4g}  "
                  f"spreads {spreads}  shift {r['median_shift_last_vs_first'][k]:+.3f}  "
                  f"bound {bounds[k]}")
    print(f"{n_runs} runs at the mean run wall: {record['driver_runs_estimate_s']:.0f} s")


if __name__ == "__main__":
    main()
