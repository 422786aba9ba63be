#!/usr/bin/env python3
"""graft's benchmark: one run of one workload, one JSON line of metrics.

    python3 perfbench/run.py --workload autoapi_list --seed 1 --seconds 10 --trace 0

Run from the root of a graft checkout. The first run builds graft and the
harness from source (sbt, offline) into perfbench/.work/; every run
generates its input tables from --seed, runs one JVM with one client
thread, checks every distinct result against DuckDB, and prints its run
record and then, as the last stdout line, the result object:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import gen_data  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

DEADLINE_S = 170
HEAP = "4g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]

E2E_UNITS = {"setup_s": "s", "call_cpu_p50_ms": "ms", "call_cpu_p90_ms": "ms",
             "cpu_s_per_pass": "s"}
LAYER_UNITS = {
    "session.start_ms": "ms", "tables.cold_load_ms": "ms",
    "build.p50_ms": "ms", "build.self_ms_per_call": "ms", "build.jobs_per_call": "count",
    "sched.jobs_per_call": "count", "sched.stages_per_call": "count",
    "sched.tasks_per_call": "count", "sched.driver_gap_ms_per_call": "ms",
    "task.cpu_ms_per_call": "ms", "task.run_ms_per_call": "ms",
    "shuffle.write_bytes_per_pass": "B", "shuffle.read_bytes_per_pass": "B",
    "spill.bytes_per_pass": "B",
    "codegen.compiles_per_call": "count", "codegen.compile_ms_per_call": "ms",
    "cachescope.sweep_ms_per_call": "ms", "cachescope.live_bytes_max": "B",
    "indexcache.bytes_after_setup": "B", "indexcache.growth_bytes": "B",
    "io.write_ms_per_pass": "ms", "io.bytes_written_per_pass": "B",
    "kernel.word_ngrams.ns_per_byte": "ns/B", "kernel.md5_prefix.ns_per_byte": "ns/B",
    "kernel.array_dot.ns_per_pair": "ns",
    "jvm.jit_ms_per_call": "ms", "jvm.gc_ms_per_call": "ms", "host.steal_pct": "%",
    "trace.overhead_pass_s": "s", "trace.overhead_call_p50_ms": "ms",
    "wall.call_p50_ms": "ms", "wall.call_p90_ms": "ms", "wall.pass_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of everything the build compiles, so a stale build is redone."""
    h = hashlib.sha256()
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness")]
    for base in roots:
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target"
                             and not (x == "project" and os.path.basename(d) == "project"))
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties", ".java")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def run_child(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout, or when this
    process is stopped, kills the whole group (sbt's launcher forks its
    JVM) and waits. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def build():
    """Compile graft (with its own build) and the harness, once per source
    state; returns the runtime classpath."""
    out = os.path.join(WORK, "build")
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(out, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               JAVA_OPTS=(os.environ.get("JAVA_OPTS", "") + " -XX:-UsePerfData").strip())
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log("building graft and the harness (sbt, offline)")
    log_path = os.path.join(out, "sbt.log")
    with open(log_path, "w") as lf:
        rc = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], 780,
                       cwd=os.path.join(HERE, "harness"), env=env, stdout=lf,
                       stderr=subprocess.STDOUT)
    with open(log_path) as f:
        output = f.read()
    lines = output.strip().splitlines()
    if rc != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write(output[-4000:])
        raise SystemExit("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1].strip()


def dataset(seed, sf):
    """The seed's input tables, generated once; other seeds' tables are
    removed so the work directory stays small."""
    base = os.path.join(WORK, "data")
    name = f"sf{sf}-seed{seed}"
    path = os.path.join(base, name)
    os.makedirs(base, exist_ok=True)
    for other in os.listdir(base):
        if other != name:
            shutil.rmtree(os.path.join(base, other), ignore_errors=True)
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        gen_data.generate(seed, sf, path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, q, steps=64):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of all
    order statistics, weight i being the Beta((n+1)q, (n+1)(1-q)) mass on
    [i/n, (i+1)/n] (Simpson's rule). It rests less on the one or two calls
    next to the quantile than the sample quantile does, which matters on
    etl_batch, whose calls fall into eight jobs of different size."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return s[0] if s else 0.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t) - lbeta) if 0 < t < 1 else 0.0
    h = 1.0 / (n * steps)
    w = [sum((1 if k in (0, steps) else 4 if k % 2 else 2) * pdf(i / n + k * h)
             for k in range(steps + 1)) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, s)) / sum(w)


def union_ms(intervals, lo, hi):
    """Length of the union of [a, b] intervals clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    return total + ((cur_b - cur_a) if cur_b is not None else 0.0)


def end_to_end(res, t_launch):
    window = [c for c in res["calls"] if c["phase"] == "window"]
    passes = [p for p in res["passes"] if p["phase"] == "window"]
    cpu = [c["cpu_ns"] / 1e6 for c in window]
    return {
        "setup_s": res["cold_end_ms"] / 1000.0 - t_launch,
        "call_cpu_p50_ms": percentile(cpu, 0.5),
        "call_cpu_p90_ms": percentile(cpu, 0.9),
        "cpu_s_per_pass": median([p["cpu_ns"] / 1e9 for p in passes]),
    }


def wall_times(res):
    """Wall times of the untraced window passes. They follow the host's
    load (see README, Steadiness), so they are reported, not gated."""
    passes = [p for p in res["passes"] if p["phase"] == "window" and not p["traced"]]
    nos = {p["pass"] for p in passes}
    durs = [c["dur_ns"] / 1e6 for c in res["calls"] if c["pass"] in nos]
    return {
        "wall.call_p50_ms": percentile(durs, 0.5),
        "wall.call_p90_ms": percentile(durs, 0.9),
        "wall.pass_s": median([p["wall_ns"] / 1e9 for p in passes]),
    }


def per_layer(res, run_dir):
    spans = {s["id"]: s for s in res["spans"]}
    traced_passes = [p for p in res["passes"] if p["phase"] == "window" and p["traced"]]
    plain_passes = [p for p in res["passes"] if p["phase"] == "window" and not p["traced"]]
    tp = {p["pass"] for p in traced_passes}
    calls = {c["id"]: c for c in res["calls"] if c["pass"] in tp}
    n_calls, n_passes = max(1, len(calls)), max(1, len(traced_passes))
    by_call = {}
    for s in spans.values():
        if s["call"] in calls:
            by_call.setdefault(s["call"], []).append(s)
    jobs_by_span = {}
    for j in res["jobs"]:
        jobs_by_span.setdefault(j["span"], []).append(j)
    stages = {s["id"]: s for s in res["stages"]}

    def named(name):
        return [s for ss in by_call.values() for s in ss if s["name"] == name]

    def dur_ms(s):
        return (s["end_us"] - s["start_us"]) / 1000.0

    def jobs_of(ss):
        return [j for s in ss for j in jobs_by_span.get(s["id"], [])]

    builds = named("build")
    build_self = [dur_ms(b) - union_ms([(j["start_ms"], j["end_ms"]) for j in jobs_of([b])],
                                       b["start_us"] / 1000.0, b["end_us"] / 1000.0)
                  for b in builds]
    n_jobs = n_stages = n_tasks = 0
    cpu_ns = run_ms = sw = sr = spill = gap = codegen = 0.0
    for cid, ss in by_call.items():
        js = jobs_of(ss)
        call = next(s for s in ss if s["name"] == "call")
        lo, hi = call["start_us"] / 1000.0, call["end_us"] / 1000.0
        gap += (hi - lo) - union_ms([(j["start_ms"], j["end_ms"]) for j in js], lo, hi)
        codegen += call["codegen"]
        st = {sid for j in js for sid in j["stages"] if stages.get(sid, {}).get("completed")}
        n_jobs += len(js)
        n_stages += len(st)
        for sid in st:
            a = stages[sid]
            n_tasks += a["tasks"]
            cpu_ns += a["cpu_ns"]
            run_ms += a["run_ms"]
            sw += a["shuffle_write"]
            sr += a["shuffle_read"]
            spill += a["spill"]
    written = 0
    for p in tp:
        d = os.path.join(run_dir, "out", f"p{p}")
        for base, _, files in os.walk(d):
            written += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    kern = {s["name"]: (s["end_us"] - s["start_us"]) * 1000.0 / max(1, s["units"])
            for s in spans.values() if s["name"].startswith("kernel.")}
    window_calls = lambda ps: [c["dur_ns"] / 1e6 for c in res["calls"]
                               if c["pass"] in {p["pass"] for p in ps}]
    setup = {s["name"]: dur_ms(s) for s in spans.values() if s["call"] == -1}
    return {
        "session.start_ms": setup.get("session.start", 0.0),
        "tables.cold_load_ms": setup.get("tables.load", 0.0),
        "build.p50_ms": median([dur_ms(b) for b in builds]),
        "build.self_ms_per_call": sum(build_self) / n_calls,
        "build.jobs_per_call": len(jobs_of(builds)) / n_calls,
        "sched.jobs_per_call": n_jobs / n_calls,
        "sched.stages_per_call": n_stages / n_calls,
        "sched.tasks_per_call": n_tasks / n_calls,
        "sched.driver_gap_ms_per_call": gap / n_calls,
        "task.cpu_ms_per_call": cpu_ns / 1e6 / n_calls,
        "task.run_ms_per_call": run_ms / n_calls,
        "shuffle.write_bytes_per_pass": sw / n_passes,
        "shuffle.read_bytes_per_pass": sr / n_passes,
        "spill.bytes_per_pass": spill / n_passes,
        "codegen.compiles_per_call": codegen / n_calls,
        "codegen.compile_ms_per_call": codegen / n_calls * res["codegen_mean_ms"],
        "cachescope.sweep_ms_per_call": sum(dur_ms(s) for s in named("cachescope.sweep")) / n_calls,
        "cachescope.live_bytes_max": float(max(res["live_bytes"], default=0)),
        "indexcache.bytes_after_setup": float(res["index_bytes_after_setup"]),
        "indexcache.growth_bytes": float(res["index_bytes_end"] - res["index_bytes_after_setup"]),
        "io.write_ms_per_pass": sum(dur_ms(s) for s in named("io.commit")) / n_passes,
        "io.bytes_written_per_pass": written / n_passes,
        "kernel.word_ngrams.ns_per_byte": kern.get("kernel.word_ngrams", 0.0),
        "kernel.md5_prefix.ns_per_byte": kern.get("kernel.md5_prefix", 0.0),
        "kernel.array_dot.ns_per_pair": kern.get("kernel.array_dot", 0.0),
        "jvm.jit_ms_per_call": sum(p["jit_ms"] for p in traced_passes) / n_calls,
        "jvm.gc_ms_per_call": sum(p["gc_ms"] for p in traced_passes) / n_calls,
        "host.steal_pct": res["record"]["host_steal_pct"],
        "trace.overhead_pass_s": median([p["wall_ns"] / 1e9 for p in traced_passes])
        - median([p["wall_ns"] / 1e9 for p in plain_passes]),
        "trace.overhead_call_p50_ms": median(window_calls(traced_passes))
        - median(window_calls(plain_passes)),
        **wall_times(res),
    }


def kernel_sample():
    """The kernel timings' fixed input, generated once per work directory."""
    path = os.path.join(WORK, "kernel_sample")
    if not os.path.exists(os.path.join(path, ".done")):
        shutil.rmtree(path, ignore_errors=True)
        gen_data.kernel_sample(path)
        open(os.path.join(path, ".done"), "w").close()
    return path


def run_jvm(classpath, plan_file, data, run_dir, slots, trace, budget_s):
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", f"plan={plan_file}", f"data={data}",
              f"work={run_dir}", f"slots={slots}", f"trace={trace}"]
           + ([f"kernels={kernel_sample()}"] if trace else []))
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        t_launch = time.time()
        rc = run_child(cmd, budget_s, stdout=lf, stderr=subprocess.STDOUT)
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"harness JVM failed ({rc})")
    return t_launch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20,
                    help="nominal window length; sets the window's (fixed) pass count")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="override the workload's scale factor")
    ap.add_argument("--warmup", type=int, help="override the warm-up pass count")
    ap.add_argument("--window", type=int, help="override the window pass count")
    ap.add_argument("--wrong-hash", type=int, action="append", default=[],
                    help="corrupt the expected hash of this call id (tests the check)")
    a = ap.parse_args()
    # SIGTERM unwinds like an error, so run_child stops the JVM or sbt it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("graft sources not found: run from the root of a graft checkout")
    classpath = build()
    t_data = time.time()  # a run has 170 s after the build (which may take 900 s)
    sf = workloads.PASSES[a.workload][0] if a.sf is None else a.sf
    data = dataset(a.seed, sf)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    plan = workloads.plan(a.workload, a.seed, sf, a.seconds, a.trace == 1, a.warmup, a.window)
    plan_file = os.path.join(run_dir, "plan.jsonl")
    with open(plan_file, "w") as f:
        f.writelines(json.dumps(c) + "\n" for c in plan)
    slots = min(4, os.cpu_count() or 1)

    budget = DEADLINE_S - (time.time() - t_data) - 15
    t_launch = run_jvm(classpath, plan_file, data, run_dir, slots, a.trace, budget)
    t_jvm_end = time.time()
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    with open(os.path.join(run_dir, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)

    # correctness, outside every timed window
    con = oracle.connect(data, run_dir)
    failed_ids = {c["id"] for c in res["calls"] if not c["ok"]}
    if a.workload == "autoapi_list":
        failed_ids |= oracle.check_autoapi(con, plan, os.path.join(run_dir, "rows.jsonl"),
                                           set(a.wrong_hash))
    else:
        bad = oracle.check_queries(con, oracle_sql, plan, os.path.join(run_dir, "out"),
                                   set(a.wrong_hash))
        failed_ids |= bad
        if bad:
            log(f"oracle mismatch: calls {sorted(bad)}")
    con.close()
    log(f"data {t_launch - t_data:.1f} s, jvm {t_jvm_end - t_launch:.1f} s, "
        f"oracle check {time.time() - t_jvm_end:.1f} s")
    for c in res["calls"]:
        if not c["ok"]:
            log(f"call {c['id']} {c['name']} failed: {c['error']}")

    if a.trace:
        values, units = per_layer(res, run_dir), LAYER_UNITS
    else:
        values, units = end_to_end(res, t_launch), E2E_UNITS
    n_window = sum(1 for c in plan if c["phase"] == "window")
    record = dict(res["record"], seed=a.seed, sf=sf, trace=a.trace, seconds=a.seconds,
                  cold_calls=sum(1 for c in plan if c["phase"] == "cold"),
                  warmup_calls=sum(1 for c in plan if c["phase"] == "warm"),
                  window_calls=n_window, failed_calls=sorted(failed_ids), **wall_times(res))
    for bulky in ("out", "spark-local", "tmp", "duckdb_tmp"):
        shutil.rmtree(os.path.join(run_dir, bulky), ignore_errors=True)
    with open(os.path.join(run_dir, "record.json"), "w") as f:
        json.dump({"record": record, "metrics": values}, f, indent=1)
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not failed_ids,
        "attempted": len(plan),
        "failed": len(failed_ids),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
