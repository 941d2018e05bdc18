"""Engine benchmark: one command that builds the engine, generates a
workload's inputs from a seed, times the workload's queries in a fresh JVM
and checks their outputs.

Usage, from the root of a checkout:

    python3 enginebench/run.py --workload forecast --seed 1 --seconds 12 --trace 0

The program under test is built from source with sbt once per source
state (the build is cached under $CARGO_TARGET_DIR, default .bench_build).
No timed process runs sbt: the JVM is a plain `java` on the exported
runtime classpath, driving graft.SparkEntry.queries from one driver thread
at local[<cpus>].

A run prints every metric by name and unit, then, as its last line, one
JSON object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones from listeners and spans. The exit code is 0 only when
every id ran and every output checked out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

JVM_TIMEOUT_S = 150
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# Warm passes keep getting faster for a few passes as the JIT compiles, so
# a run makes a fixed number of them, derived from --seconds, never "as
# many as fit": a varying count would move the median.
NOMINAL_PASS_S = 4.0
MIN_PASSES = {0: 3, 1: 4}   # a traced run needs two traced and two untraced


def log(msg):
    print(f"[enginebench] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------------ build

def stamp(root, files):
    """Hash of the named files' paths and contents."""
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(os.path.join(root, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def engine_sources():
    return ["build.sbt"] + sorted(glob.glob("project/*.sbt")) + \
        sorted(glob.glob("project/build.properties")) + \
        sorted(p for p in glob.glob("src/main/**", recursive=True) if os.path.isfile(p))


def cached(out, name, key, make):
    """Returns make()'s string, rebuilt only when `key` changes."""
    key_file, value_file = os.path.join(out, name + ".key"), os.path.join(out, name + ".txt")
    if os.path.isfile(key_file) and open(key_file).read() == key:
        return open(value_file).read()
    value = make()
    with open(value_file, "w") as f:
        f.write(value)
    with open(key_file, "w") as f:
        f.write(key)
    return value


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts = ["-Dsbt.override.build.repos=true",
                    f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build_engine(root, out):
    """Compiles the engine with sbt; returns its runtime classpath."""
    log("building the engine with sbt (not timed)")
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         f'set target := file("{os.path.join(out, "sbt")}")', "export Runtime/fullClasspath"],
        cwd=root, env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=800)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(res.stdout[-4000:] + res.stderr[-4000:])
        raise SystemExit("sbt build failed")
    return lines[-1].strip()


def build_harness(out, engine_cp):
    harness = os.path.join(out, "harness")
    shutil.rmtree(harness, ignore_errors=True)
    os.makedirs(harness)
    subprocess.run(["javac", "-nowarn", "-d", harness, "-cp", engine_cp,
                    os.path.join(HERE, "harness", "EngineBench.java")],
                   check=True, stdin=subprocess.DEVNULL)
    return harness + os.pathsep + engine_cp


def build(root, out):
    """Builds what changed; returns the harness's java classpath."""
    engine_cp = cached(out, "engine", stamp(root, engine_sources()),
                       lambda: build_engine(root, out))
    harness_src = os.path.relpath(os.path.join(HERE, "harness", "EngineBench.java"), root)
    return cached(out, "harness", stamp(root, [harness_src]) + engine_cp,
                  lambda: build_harness(out, engine_cp))


# -------------------------------------------------------------------- run

def run_jvm(cp, out, jvm_flags, args, log_path):
    """Runs the harness to completion; returns (launch_time, result)."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    result = os.path.join(out, "result.json")
    if os.path.exists(result):
        os.remove(result)
    # a fixed heap size keeps G1 from resizing it run by run, which
    # otherwise moves the peak RSS by ~20% between seeds
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    cmd += list(jvm_flags)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "EngineBench", f"scratch={tmp}", f"out={result}"]
    cmd += [f"{k}={v}" for k, v in args.items()]
    with open(log_path, "ab") as logf:
        launched = time.time()
        # few malloc arenas: native memory, and with it the peak RSS, then
        # varies less with thread scheduling
        proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                                start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"JVM timed out after {JVM_TIMEOUT_S}s; see {log_path}")
    if code != 0 or not os.path.exists(result):
        raise SystemExit(f"JVM exited with {code}; see {log_path}")
    with open(result) as f:
        return launched, json.load(f)


def check_outputs(root, data, dump, log_path):
    """Runs tools/check.py on the dump; returns the ids that failed."""
    res = subprocess.run([sys.executable, os.path.join(root, "tools", "check.py"), data, dump],
                         cwd=root, stdin=subprocess.DEVNULL, capture_output=True, text=True,
                         timeout=120)
    with open(log_path, "a") as f:
        f.write(res.stdout + res.stderr)
    passed = {l.split()[1] for l in res.stdout.splitlines() if l.startswith("PASS ")}
    expected = set(json.load(open(os.path.join(dump, "oracle_sql.json"))))
    return expected - passed


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(launched, r):
    """End-to-end metrics; pass times come from untraced passes only."""
    warm = [p for p in r["warm"] if not p["traced"]]
    return {
        "setup_s": metric(r["ready_ns"] / 1e9 - launched, "s"),
        "cold_pass_s": metric(r["cold"]["wall_s"], "s"),
        "pass_s": metric(median([p["wall_s"] for p in warm]), "s"),
        "pass_cpu_s": metric(median([p["cpu_s"] for p in warm]), "s"),
        "rss_peak_mb": metric(r["rss_peak_mb"], "MB"),
    }


def probes(r, passes):
    """Host and JVM probes, measured on every pass of every run."""
    return {
        "host.calib_ms": metric(median(r["calib_ms"]), "ms"),
        "host.steal_s": metric(median([p["steal_s"] for p in passes]), "s"),
        "jvm.gc_s": metric(median([p["gc_s"] for p in passes]), "s"),
        "jvm.gc_count": metric(median([p["gc_count"] for p in passes]), "count"),
        "jvm.pause_s": metric(median([p["pause_s"] for p in passes]), "s"),
        "jvm.pause_max_ms": metric(max(p["pause_max_ms"] for p in passes), "ms"),
    }


def per_layer(r, spans):
    traced = [p for p in r["warm"] if p["traced"]]
    plain = [p for p in r["warm"] if not p["traced"]]

    def med(key):
        return median([p[key] for p in traced])

    wall = med("wall_s")
    layers = stats.layer_self_seconds(spans)
    span_self = {layer: median([layers.get(p["pass"], {}).get(layer, 0.0)
                                      for p in traced])
                 for layer in ("build", "action", "plan", "job")}
    m = {
        "ops.build_s": metric(med("build_s"), "s"),
        "ops.build_jobs": metric(med("build_jobs"), "count"),
        "ops.action_s": metric(med("action_s"), "s"),
        "ops.build_share": metric(
            median([p["build_s"] / p["wall_s"] for p in traced]), "fraction"),
        "ext.fn_reregistrations": metric(med("fn_reregistrations"), "count"),
        "ext.register_s": metric(median(r["register_s"]), "s"),
        "catalyst.analysis_s": metric(med("analysis_s"), "s"),
        "catalyst.optimization_s": metric(med("optimization_s"), "s"),
        "catalyst.planning_s": metric(med("planning_s"), "s"),
        "catalyst.plan_nodes": metric(med("plan_nodes"), "count"),
        "catalyst.exchanges": metric(med("exchanges"), "count"),
        "exec.jobs": metric(med("jobs"), "count"),
        "exec.stages": metric(med("stages"), "count"),
        "exec.tasks": metric(med("tasks"), "count"),
        "exec.task_s": metric(med("task_s"), "s"),
        "exec.task_cpu_s": metric(med("task_cpu_s"), "s"),
        "exec.busy_cores": metric(
            median([p["task_s"] / p["wall_s"] for p in traced]), "cores"),
        "exec.shuffle_write_mb": metric(med("shuffle_write_mb"), "MB"),
        "exec.shuffle_read_mb": metric(med("shuffle_read_mb"), "MB"),
        "exec.spill_mb": metric(med("spill_mb"), "MB"),
        "exec.input_mb": metric(med("input_mb"), "MB"),
        "exec.failed_tasks": metric(med("failed_tasks"), "count"),
    }
    m.update(probes(r, traced))
    m.update({f"span.{layer}_self_s": metric(v, "s") for layer, v in span_self.items()})
    m["trace.pass_s"] = metric(wall, "s")
    m["trace.overhead_s"] = metric(wall - median([p["wall_s"] for p in plain]), "s")
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    for need in ("build.sbt", "src/main", "tools/check.py"):
        if not os.path.exists(os.path.join(root, need)):
            log(f"{need} not found: run from the root of a checkout of the engine")
            return 2
    w = WORKLOADS[a.workload]
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    out = os.path.join(out, "enginebench")
    os.makedirs(out, exist_ok=True)
    cp = build(root, out)

    # inputs are generated before, and outside, every measured process
    data = os.path.join(out, "data", f"{w.name}-{a.seed}")
    if not os.path.isfile(os.path.join(data, "done")):
        shutil.rmtree(data, ignore_errors=True)
        gen.generate(data, a.seed, w.sizes)
        open(os.path.join(data, "done"), "w").close()

    tag = f"{w.name}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(out, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work, "jvm.log")
    dump = os.path.join(work, "dump")
    spans_path = os.path.join(work, "spans.json")
    cpus = len(os.sched_getaffinity(0))
    n_passes = max(MIN_PASSES[a.trace], round(a.seconds / NOMINAL_PASS_S))
    launched, r = run_jvm(cp, work, w.jvm_flags, {
        "data": data, "tables": ",".join(w.tables),
        "ids": ",".join(w.ids), "cpus": cpus, "passes": n_passes,
        "trace": a.trace, "dump": dump, "spans": spans_path,
    }, log_path)

    passes = [r["cold"], r["dump"]] + r["warm"]
    threw = {i for p in passes for i in p["failed"]}
    wrong = check_outputs(root, data, dump, log_path)
    unstable = stats.unstable_digests(passes, r["self_verified"])
    failed = sorted(threw | wrong | unstable)
    frac = stats.failed_frac(w.ids, failed)

    e2e = end_to_end(launched, r)
    info = dict(e2e)
    info["failed_frac"] = metric(frac, "fraction")
    info.update(probes(r, r["warm"]))
    info["warm_passes"] = metric(len(r["warm"]), "count")
    for i in w.ids:
        times = [p["ids"][i] for p in r["warm"] if i in p["ids"]]
        if times:
            info[f"q.{i}.s"] = metric(median(times), "s")
    metrics = e2e
    if a.trace:
        with open(spans_path) as f:
            spans = json.load(f)
        metrics = per_layer(r, spans)
        info.update(metrics)

    with open(os.path.join(work, "summary.json"), "w") as f:
        json.dump({"workload": w.name, "seed": a.seed, "trace": a.trace, "cpus": cpus,
                   "failed": {"threw": sorted(threw), "wrong": sorted(wrong),
                              "unstable_digest": sorted(unstable)},
                   "metrics": info, "run": r}, f, indent=1)
    shutil.rmtree(dump, ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)

    print(f"workload {w.name} seed {a.seed} trace {a.trace} cpus {cpus} ids {len(w.ids)}")
    for name, m in info.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    if failed:
        print("failed ids: " + " ".join(failed))
    print(json.dumps({"correct": not failed, "attempted": len(w.ids), "failed": len(failed),
                      "metrics": metrics}))
    return 0 if not failed else 1


if __name__ == "__main__":
    sys.exit(main())
