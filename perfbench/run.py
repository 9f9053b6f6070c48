"""Repo benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {adhoc_sql,tpch,llm_curate}
        --seed N --seconds S --trace {0,1}

Run from the root of a source checkout. It builds the engine and the
harness from source (cached in $CARGO_TARGET_DIR, default .bench_build),
generates the fixed base tables and the seeded workload inputs, runs the
harness JVM on Spark local[N] with N = the usable CPU count for a fixed
number of passes (set by --seconds and the workload's nominal pass time,
not by how fast the passes run), checks the outputs and prints one JSON
line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (tracing off); with
--trace 1 they are the per-layer ones from a traced run, and the spans
and counters are written to <build dir>/traces/. Every result, with its
environment stamp, is also written to <build dir>/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = {"adhoc_sql": "sf0.01", "tpch": "sf0.1", "llm_curate": "sf0.1"}
SCALES = {"sf0.01": 0.01, "sf0.1": 0.1}
# nominal wall time of one pass on 4 cores: a run makes --seconds / this
# many passes, at least MIN_PASSES, however fast they turn out to be
PASS_S = {"adhoc_sql": 5.0, "tpch": 20.0, "llm_curate": 10.0}
MIN_PASSES = 3
HEAP = "3g"
DEADLINE_S = 170      # the whole run, build excluded
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run_proc(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout the
    whole group is killed, so no child outlives the benchmark.
    """
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return None


def tree_hash(root, rels):
    h = hashlib.sha256()
    for rel in rels:
        base = os.path.join(root, rel)
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in sorted(files):
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, out):
    """Compile engine + harness with sbt; cached on a hash of the sources."""
    sources = ["src/main/scala", "perfbench/src", "perfbench/build.sbt",
               "perfbench/project/build.properties"]
    stamp = tree_hash(root, sources)
    cp_file = os.path.join(out, "classpath.txt")
    stamp_file = os.path.join(out, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as f:
                    return f.read().strip(), stamp
    env = dict(os.environ, PERFBENCH_TARGET=os.path.join(out, "sbt"))
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    log, out_file = os.path.join(out, "build.log"), os.path.join(out, "build.out")
    with open(log, "w") as lf, open(out_file, "w") as of:
        rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                       "export Runtime/fullClasspath"],
                      BUILD_TIMEOUT_S, cwd=os.path.join(root, "perfbench"), env=env,
                      stdout=of, stderr=lf)
    with open(out_file) as of:
        lines = [ln for ln in of.read().splitlines() if ln and not ln.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def base_data(out, sf_name):
    """Fixed base tables, generated once per checkout."""
    import datagen
    d = os.path.join(out, "data", sf_name)
    stamp = tree_hash(HERE, ["datagen.py"])
    stamp_file = os.path.join(d, ".stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return d
    datagen.write(d, SCALES[sf_name])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return d


def git_commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_harness(cp, args, run_dir, cores, data_dir, deadline, passes):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    raw_file = os.path.join(run_dir, "raw.json")
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", args.workload, run_dir, data_dir,
            raw_file, str(passes), str(args.trace), str(cores)]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        rc = run_proc(cmd, max(deadline - time.time(), 1), cwd=run_dir, stdout=lf,
                      stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(raw_file):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(f"harness exited with {rc}:\n{tail}")
    with open(raw_file) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started = time.time()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "src/main/scala/graft/Engine.scala")):
        fail("run from the root of a source checkout (src/main/scala/graft missing)")
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)
    cp, source_hash = build(root, out)
    deadline = time.time() + DEADLINE_S

    sf_name = WORKLOADS[args.workload]
    data_dir = base_data(out, sf_name)
    run_dir = os.path.join(out, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    t0 = time.time()
    sizes = inputs.write(args.workload, args.seed, run_dir, data_dir)
    inputs_gen_s = time.time() - t0
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

    passes = max(MIN_PASSES, round(args.seconds / PASS_S[args.workload]))

    try:
        raw = run_harness(cp, args, run_dir, cores, data_dir, deadline, passes)
        if args.workload == "adhoc_sql":
            with open(os.path.join(run_dir, "queries.jsonl")) as f:
                qs = [json.loads(ln) for ln in f]
            bad = checks.check_adhoc(raw, qs, data_dir)
        elif args.workload == "tpch":
            bad = checks.check_tpch(raw, data_dir)
        else:
            with open(os.path.join(run_dir, "manifest.json")) as f:
                bad = checks.check_llm(raw, json.load(f))
        errors = {o["id"]: o["error"] for o in raw["ops"] if o["error"]}
        errors.update(bad)
        attempted = len(raw["ops"])
        failed = len(errors)
        for i, why in sorted(errors.items())[:10]:
            print(f"perfbench: op {i} failed: {why}", file=sys.stderr)

        if args.trace:
            result_metrics = metrics.per_layer(raw, cores)
            os.makedirs(os.path.join(out, "traces"), exist_ok=True)
            trace_file = os.path.join(
                out, "traces", f"{args.workload}-seed{args.seed}-{int(started)}.json")
            selfs = metrics.self_times(raw["spans"])
            with open(trace_file, "w") as f:
                json.dump({"spans": [dict(zip(
                    ["id", "parent", "op", "name", "start_us", "end_us"], s),
                    self_us=selfs[s[0]]) for s in raw["spans"]],
                    "groups": raw["groups"], "ops": [
                        {k: o[k] for k in ("id", "pass", "name", "ms", "traced", "error")}
                        for o in raw["ops"]]}, f)
        else:
            result_metrics = metrics.end_to_end(raw)
            trace_file = None

        stamp = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
            "git_commit": git_commit(root), "source_hash": source_hash,
            "python": sys.version.split()[0], "scale": sf_name,
            "input_sizes": sizes, "inputs_gen_s": inputs_gen_s,
            "ops": attempted, "passes": passes, "pass_ms": raw["pass_ms"],
            "setup": raw["setup"],
            "error_ratio": failed / attempted if attempted else 0.0,
            "trace_file": trace_file, **raw["env"]}
        os.makedirs(os.path.join(out, "results"), exist_ok=True)
        with open(os.path.join(out, "results", f"{args.workload}-seed{args.seed}-"
                               f"trace{args.trace}-{int(started)}.json"), "w") as f:
            json.dump({"stamp": stamp, "metrics": result_metrics,
                       "failed_ops": errors}, f, indent=1)
        print(json.dumps({"stamp": stamp}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if attempted < 1:
        fail("no operation ran")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": result_metrics}))


if __name__ == "__main__":
    main()
