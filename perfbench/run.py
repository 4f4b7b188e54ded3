"""Layer-attributed benchmark of the graft Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a checkout. Builds the program (perfbench/build.py),
prepares the seeded inputs and the DuckDB oracle's row counts
(perfbench/inputs.py), then runs one JVM that executes the workload's
queries one at a time in a single SparkSession at local[4]. The last line of
stdout is one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
separate traced run reports the per-layer ones and writes a span file.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4
JVM_TIMEOUT = 170
FULL_JVM_TIMEOUT = 1800  # --full runs whole query lists
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class RunError(Exception):
    pass


def catalog(stamp):
    """Module membership and oracle SQL, dumped once per build."""
    path = os.path.join(WORK, f"catalog-{stamp[:16]}.json")
    if not os.path.isfile(path):
        run_dir = new_run_dir("catalog")
        try:
            jvm(["catalog", path + ".tmp"], run_dir, timeout=120)
            os.replace(path + ".tmp", path)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
    with open(path) as fh:
        return json.load(fh)


def new_run_dir(tag):
    d = os.path.join(WORK, "runs", tag)
    shutil.rmtree(d, ignore_errors=True)
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(d, sub))
    return d


def jvm(args, run_dir, timeout=JVM_TIMEOUT, log_name="jvm.log"):
    """Runs the harness JVM; stops it (and waits) if it overruns."""
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "graft.perfbench.Harness"] + args
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    log_path = os.path.join(WORK, "logs", f"{os.path.basename(run_dir)}-{log_name}")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RunError(f"harness JVM overran {timeout} s (log {log_path})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            tail = "".join(l for l in fh.readlines() if " INFO " not in l)[-3000:]
        raise RunError(f"harness JVM exited {rc}:\n{tail}")


def write_plan(path, *, wl, data_dir, trace, seconds, run_dir, orders,
               span_file=None, selftest=False):
    lines = [
        f"dir {data_dir}", f"cores {CORES}", f"trace {1 if trace else 0}",
        f"seconds {seconds}", f"warmup_cycles {wl.warmup_cycles}",
        f"min_cycles {wl.measured_cycles}",
        f"local_dir {os.path.join(run_dir, 'local')}",
        f"warehouse_dir {os.path.join(run_dir, 'warehouse')}",
        f"scratch_dirs {os.path.join(run_dir, 'tmp')} {os.path.join(run_dir, 'local')}",
        "staging " + " ".join(wl.staging), f"selftest {1 if selftest else 0}",
    ]
    if span_file:
        lines.append(f"span_file {span_file}")
    lines.append("cold " + " ".join(orders[0]))
    lines += ["warm " + " ".join(o) for o in orders[1:]]
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")


def execute(wl, seed, seconds, trace, run_dir, data_dir, selftest=False,
            timeout=JVM_TIMEOUT):
    """One harness JVM: the set-up, a cold pass, the workload's cycles of
    warm-up passes, then its measured cycles of warm passes, more while
    fewer than `seconds` have passed; a traced run adds a single-core
    cycle. Fixed counts keep how far the JIT has warmed up from depending
    on how fast the host happens to be; a traced run alternates traced and
    untraced measured cycles."""
    orders = inputs.pass_orders(wl.queries, seed, wl.cycle)
    plan = os.path.join(run_dir, "plan.txt")
    out = os.path.join(run_dir, "result.json")
    write_plan(plan, wl=wl, data_dir=data_dir, trace=trace, seconds=seconds,
               run_dir=run_dir, orders=orders, selftest=selftest,
               span_file=os.path.join(WORK, "spans", f"{os.path.basename(run_dir)}.json")
               if trace else None)
    jvm(["run", plan, out], run_dir, timeout=timeout)
    with open(out) as fh:
        return json.load(fh)


def percentile(values, q):
    """Nearest-rank percentile; failed executions rank as +inf."""
    if not values:
        return None
    v = sorted(values)
    i = max(0, math.ceil(q * len(v)) - 1)
    return None if math.isinf(v[i]) else v[i]


def check(res, expected):
    """Marks each execution failed when it threw or its row count differs
    from the oracle's (rows-only queries: must be > 0 and the same in
    every pass)."""
    seen = {}
    for e in res["executions"]:
        q, rows = e["query"], e["rows"]
        exp = expected.get(q)
        if e["error"] is not None:
            e["failed"] = f"threw: {e['error']}"
        elif exp is not None and rows != exp:
            e["failed"] = f"rows {rows} != oracle {exp}"
        elif exp is None and (rows <= 0 or seen.setdefault(q, rows) != rows):
            e["failed"] = f"rows-only check: {rows} rows"
        else:
            e["failed"] = None
    return [e for e in res["executions"] if e["failed"]]


def end_to_end(res):
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    cold = [p for p in res["passes"] if p["pass"] == 0][0]
    lat = [math.inf if e["failed"] else e["latency_s"]
           for e in res["executions"] if e["kind"] == "warm"]
    m = {
        "setup_s": (res["setup_s"], "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "pass_s": (statistics.median(p["wall_s"] for p in warm), "s"),
    }
    # printed, not bounded: too few samples to repeat (see README.md)
    info = {"warm_passes": len(warm), "query_p50_s": percentile(lat, 0.5),
            "query_p90_s": percentile(lat, 0.9),
            "latency_samples": sum(1 for v in lat if not math.isinf(v)),
            "storage_peak_mb": res["storage_peak_mb"],
            # CPU seconds of the benchmark JVM, which leave out time the
            # hypervisor steals from a shared host
            "cold_pass_cpu_s": cold["cpu_s"],
            "pass_cpu_s": statistics.median(p["cpu_s"] for p in warm)}
    return m, info


LAYER_FROM_PASS = [
    "operators.construct_s", "operators.construct_jobs",
    "plans.plan_s", "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
    "plans.aqe_updates",
    "sched.jobs", "sched.stages", "sched.tasks", "sched.tasks_per_stage",
    "sched.job_span_s", "sched.driver_gap_s",
    "exec.s", "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.input_mb",
    "exec.output_mb", "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb",
    "exec.core_busy_frac",
    "memo.reset_s", "memo.drop_scratch_s",
    "stream.queries", "stream.batches", "stream.trigger_s", "stream.add_batch_s",
    "stream.overhead_s", "stream.state_rows",
    "io.write_calls", "io.write_mb", "io.read_mb", "io.scratch_left_mb",
]


def per_layer(res):
    traced = [p for p in res["passes"] if p["kind"] == "warm"]
    untraced = [p for p in res["passes"] if p["kind"] == "warm_untraced"]
    m = {k: statistics.median(p[k] for p in traced) for k in LAYER_FROM_PASS}
    m["memo.storage_peak_mb"] = res["storage_peak_mb"]
    m["jvm.gc_s"] = res["cold_jvm.gc_s"]
    m["jvm.jit_s"] = res["cold_jvm.jit_s"]
    t = statistics.median(p["wall_s"] for p in traced)
    u = statistics.median(p["wall_s"] for p in untraced)
    m["trace.overhead_frac"] = t / u - 1.0
    m["exec.speedup_1c"] = statistics.median(
        p["wall_s"] for p in res["passes"] if p["kind"] == "warm_1c") / u
    return m


def unit_of(name):
    if name.endswith("_s") or name == "exec.s":
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("sched.tasks_per_stage", "exec.core_busy_frac", "exec.speedup_1c",
                "trace.overhead_frac"):
        return "ratio"
    return "count"


def run(wl, seed, seconds, trace, data_dir, expected, selftest=False,
        timeout=JVM_TIMEOUT):
    """Runs one workload; returns (result line, info line)."""
    run_dir = new_run_dir(f"{wl.name}-s{seed}{'-trace' if trace else ''}")
    try:
        res = execute(wl, seed, seconds, trace, run_dir, data_dir, selftest=selftest,
                      timeout=timeout)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    bad = check(res, expected)
    for e in bad[:20]:
        log(f"FAILED pass {e['pass']} {e['query']}: {e['failed']}")
    attempted = len(res["executions"])
    info = {"workload": wl.name, "seed": seed, "failed_frac": len(bad) / attempted,
            "failed_queries": sorted({e["query"] for e in bad})}
    correct = not bad
    if trace:
        tr = res["trace"]
        if tr["check_violations"]:
            correct = False
            log(f"span check: {tr['check_violations']} violations: {tr['check_notes']}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in per_layer(res).items()}
        info.update(span_file=os.path.relpath(tr["span_file"], ROOT), spans=tr["spans"],
                    span_check_violations=tr["check_violations"],
                    traced_pass_s=statistics.median(
                        p["wall_s"] for p in res["passes"] if p["kind"] == "warm"))
    else:
        m, more = end_to_end(res)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        info.update(more)
    return ({"correct": correct, "attempted": attempted, "failed": len(bad),
             "metrics": metrics}, info)


def _stop(signum, frame):
    raise SystemExit(128 + signum)


def main(argv=None):
    # a SIGTERM unwinds through jvm(), which stops and reaps the harness JVM
    signal.signal(signal.SIGTERM, _stop)
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--full", action="store_true",
                    help="run the workload's full query list instead of its run list")
    a = ap.parse_args(argv)
    t_entry = time.perf_counter()
    try:
        cat = catalog(build.build())
        wl = workloads.get(a.workload, cat, full=a.full)
        data_dir, gen_s, content_key = wl.input_dir(a.seed, sys.stderr)
        expected = inputs.oracle_counts(data_dir, wl.queries, cat["oracle"], sys.stderr,
                                        content_key=content_key)
        log(f"{wl.name}: {len(wl.queries)} queries, input {os.path.relpath(data_dir, ROOT)}, "
            f"generator {gen_s:.2f} s, prepared in {time.perf_counter() - t_entry:.2f} s")
        line, info = run(wl, a.seed, a.seconds, bool(a.trace), data_dir, expected,
                         timeout=FULL_JVM_TIMEOUT if a.full else JVM_TIMEOUT)
    except (build.BuildError, RunError, FileNotFoundError, KeyError) as e:
        log(f"error: {e}")
        return 2
    info["generator_s"] = gen_s
    print(json.dumps(info))
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
