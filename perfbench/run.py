#!/usr/bin/env python3
"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Builds the engine and the harness from
source on first use (sbt, into perfbench/target), makes the seeded
inputs (cached under perfbench/.work/inputs), runs the workload in
one JVM, checks its outputs, and prints the metrics as the last line
of standard output.  Exits non-zero, printing no result, when the
engine sources or the toolchain are missing, or when the run fails.
See NOTES.md for the workloads and metric definitions.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import stats  # noqa: E402

WORKLOADS = ("query_suite", "scheduled_ingest", "ingest_race", "curation_stream")
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 700
# set-ups per run (the first is cold; the median reads a warm one)
SETUP_REPS = {"query_suite": 3, "scheduled_ingest": 15, "ingest_race": 15,
              "curation_stream": 3}

# metric name -> unit, for every run (trace 0) and for traced runs
END_TO_END = {
    "setup_s": "s", "mem_held_mb": "MB", "ok_frac": "ratio",
    "op_p50_ms": "ms", "pass_s": "s",
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def per_layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt")])
    for p in files:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, limit, log):
    """Run cmd in its own process group; kill the group at the limit, or
    when this process is told to stop."""
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)

        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in handlers.items():
                signal.signal(s, h)
            try:
                os.killpg(p.pid, signal.SIGKILL)  # stray children of the group
            except ProcessLookupError:
                pass


def build(work):
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    stamp_file = os.path.join(work, "build.stamp")
    stamp = source_stamp()
    if os.path.isdir(classes) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return classes
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    env = dict(os.environ)
    # everything the build needs is already in the local caches
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    code = run_bounded([sbt, "--batch", "-Dsbt.log.noformat=true", "compile"], HERE, env,
                       BUILD_LIMIT_S, os.path.join(work, "build.log"))
    if code != 0:
        die(f"build failed (see {os.path.join(work, 'build.log')})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("Spark jars not found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def inputs(workload, seed, work):
    """Seeded inputs, cached by (seed, parameters)."""
    import gen
    if workload in ("scheduled_ingest", "ingest_race"):
        workload = "scheduled_ingest"  # the same ticks
        params = gen.ticks_params()
    elif workload == "curation_stream":
        params = gen.curation_params()
    else:
        return None
    key = hashlib.sha256(json.dumps([workload, seed, params], sort_keys=True)
                         .encode()).hexdigest()[:16]
    out = os.path.join(work, "inputs", f"{workload}-{key}")
    if not os.path.exists(os.path.join(out, "done")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        if workload == "scheduled_ingest":
            gen.ticks(seed, os.path.join(out, "ticks"))
        else:
            gen.curation(seed, os.path.join(HERE, "fixture", "documents.parquet"),
                         os.path.join(out, "arrivals.parquet"))
        open(os.path.join(out, "done"), "w").close()
    return out


def check_queries(res, run_dir):
    """Hash each query's checked output against the recorded oracle."""
    import checks
    with open(os.path.join(HERE, "expected_hashes.json")) as f:
        expected = json.load(f)
    bad = checks.compare(os.path.join(HERE, "fixture"), os.path.join(run_dir, "check"),
                         expected)
    for name, why in bad.items():
        res["errors"].append(f"hash {name}: {why}")
    # the JVM counted each written output as one attempted check
    res["failed"] += len(bad)
    return not bad


def metrics(res, trace, run_dir):
    """Map the JVM's raw measurements to the printed metrics."""
    ops_ms = [s * 1000.0 for s in res["ops_s"]]
    t = stats.tail(ops_ms)
    if t is None:
        print(f"operations: {len(ops_ms)}, too few for a tail percentile")
    else:
        print(f"operations: {t[2]}, tail p{t[1]:.1f} = {t[0]:.1f} ms")
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "mem_held_mb": res["mem_held_bytes"] / 1e6,
        "ok_frac": 1.0 - res["failed"] / res["attempted"],
        "op_p50_ms": statistics.median(ops_ms),
        "pass_s": statistics.median(res["pass_s"]),
    }
    if not trace:
        return {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    units = per_layer_units()
    layers = dict(res["layers"])
    layers["traced.op_p50_ms"] = e2e["op_p50_ms"]
    layers["traced.pass_s"] = e2e["pass_s"]
    spans_path = os.path.join(run_dir, "spans.jsonl")
    with open(spans_path) as f:
        spans = [json.loads(line) for line in f]
    for name, sec in stats.self_times(spans).items():
        layers[f"self.{name}_s"] = sec
    out = {}
    for name, unit in units.items():
        # a layer the workload never enters reads 0
        out[name] = {"value": float(layers.get(name, 0.0)), "unit": unit}
    for name in sorted(set(layers) - set(units)):
        print(f"layer {name} = {layers[name]}")  # e.g. curation_stream's own
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("java") is None:
        die("java not found on PATH")
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    classes = build(work)
    jars = spark_jars()
    inp = inputs(a.workload, a.seed, work)

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    out_file = os.path.join(run_dir, "result.json")
    cmd = (["java", "-Xmx4g", "-XX:+UseParallelGC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              f"-Dderby.system.home={run_dir}",
              "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}",
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--fixture", os.path.join(HERE, "fixture"),
              "--inputs", inp or run_dir, "--work", run_dir, "--out", out_file,
              "--setup-reps", str(SETUP_REPS[a.workload])])
    os.makedirs(os.path.join(run_dir, "tmp"))
    code = run_bounded(cmd, run_dir, env, RUN_LIMIT_S, os.path.join(run_dir, "jvm.log"))
    if code != 0 or not os.path.exists(out_file):
        die(f"workload run failed (exit {code}); see {os.path.join(run_dir, 'jvm.log')}", 1)
    with open(out_file) as f:
        res = json.load(f)
    checks_ok = res["checks_failed"] == 0
    if a.workload == "query_suite":
        checks_ok = check_queries(res, run_dir) and checks_ok
    for e in res["errors"]:
        print(f"failed: {e}")
    m = metrics(res, a.trace == 1, run_dir)
    correct = bool(checks_ok)
    print(json.dumps({"correct": correct, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": m}))


if __name__ == "__main__":
    main()
