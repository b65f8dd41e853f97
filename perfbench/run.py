#!/usr/bin/env python3
"""graft benchmark: build, generate seeded inputs, run one workload, check.

Usage (from the repository root):
  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S --trace 0

W is corpus_prepare or stream_ingest (see BENCHMARK.json and README.md);
`all` runs each in turn and prints every workload's named metrics. Each
run:

  1. compiles the library (src/main/scala) together with the benchmark
     runner (perfbench/src) with sbt, once per source state, into
     $CARGO_TARGET_DIR (default .bench_build);
  2. generates the inputs from the seed (gen.py);
  3. runs the workload in a fresh JVM on local[nproc] (Main.scala):
     set-up, untimed set-up checks, then timed ops for S seconds (and at
     least the workload's minimum op count);
  4. compares the SQL ops' answers with DuckDB (stream_ingest);
  5. writes a result file under .bench_build/results with the metrics and
     the run's conditions (Spark conf, seed, loadavg, source revision),
     and prints one JSON line: {"correct", "attempted", "failed",
     "metrics"} - the end-to-end metrics, or with --trace 1 the per-layer
     metrics.

Exits non-zero without a result line when the build or run fails.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["corpus_prepare", "stream_ingest"]
RUN_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources():
    lib = os.path.join(ROOT, "src", "main", "scala")
    own = os.path.join(HERE, "src")
    if not os.path.isdir(lib) or not os.path.isdir(own):
        raise SystemExit("perfbench: library sources not found under "
                         f"{lib}; run from a full checkout")
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (lib, own):
        for d, _, fs in sorted(os.walk(top)):
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java"))]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("perfbench: no Spark install (set SPARK_HOME)")
    return home


def build(build_dir):
    """Compile once per source state; returns the classes directory."""
    stamp = source_stamp()
    classes = os.path.join(build_dir, "sbt", "scala-2.13", "classes")
    stamp_file = os.path.join(build_dir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    log("perfbench: compiling library + runner with sbt")
    env = dict(os.environ, BENCH_BUILD=build_dir, SPARK_HOME=spark_home())
    rc = wait_group(subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
        env=env, stdout=sys.stderr, stderr=sys.stderr,
        start_new_session=True), 850, "build")
    if rc != 0:
        raise SystemExit("perfbench: build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def revision(stamp):
    """The git commit when there is one, and always the source digest."""
    head = None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            head = r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return {"git_head": head, "source_sha256": stamp}


def heap_mb():
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    # a quarter of the host, between 2 and 8 GB
    return max(2048, min(8192, total_kb // 4096))


def wait_group(p, timeout, what):
    """Wait for `p`; on timeout or interruption kill its process group."""
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {what} exceeded {timeout:.0f}s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def run_java(classes, args, log_path, timeout):
    cp = classes + os.pathsep + os.path.join(spark_home(), "jars", "*")
    opens = sum((["--add-opens", f"{p}=ALL-UNNAMED"] for p in ADD_OPENS), [])
    tmp = os.path.join(args["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{heap_mb()}m", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false"] + opens +
           ["-cp", cp, "graft.perfbench.Main"] +
           sum(([f"--{k}", str(v)] for k, v in args.items()), []))
    with open(log_path, "w") as lf:
        return wait_group(subprocess.Popen(cmd, stdout=lf, stderr=lf,
                                           start_new_session=True),
                          timeout, "workload")


def run_one(workload, seed, seconds, trace, build_dir, classes, stamp):
    t_start = time.monotonic()
    run_dir = os.path.join(build_dir, "runs",
                           f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, work = os.path.join(run_dir, "data"), os.path.join(run_dir, "work")
    os.makedirs(work)
    try:
        meta = gen.generate(seed, data)
        digests = gen.digests(data)
        load_before = os.getloadavg()
        raw_path = os.path.join(run_dir, "raw.json")
        timeout = RUN_TIMEOUT_S - (time.monotonic() - t_start) - 5
        rc = run_java(classes, {
            "workload": workload, "data": data, "work": work,
            "seconds": seconds, "trace": trace, "out": raw_path},
            os.path.join(run_dir, "java.log"), timeout)
        if rc != 0 or not os.path.exists(raw_path):
            with open(os.path.join(run_dir, "java.log")) as f:
                log(f.read()[-4000:])
            raise SystemExit(f"perfbench: {workload} run failed (exit {rc})")
        with open(raw_path) as f:
            raw = json.load(f)
        load_after = os.getloadavg()

        # untimed checks count too: the warm-up ops and one DuckDB compare
        # per SQL op; a timed run of a query the oracle rejects fails
        checks = raw["checks"]
        oracle_fail = {}
        if "sql_oracle" in checks:
            oracle_fail = oracle.compare(data, os.path.join(work, "sql"),
                                         checks["sql_oracle"])
            for o in raw["ops"]:
                if o.get("query") in oracle_fail and not o.get("error"):
                    o["error"] = f"{o['query']}: " + oracle_fail[o["query"]]
        errors = ([o["error"] for o in raw["ops"] if o.get("error")] +
                  checks.get("warmup_errors", []) + list(oracle_fail.values()))
        attempted = (len(raw["ops"]) + checks.get("warmup_ops", 0) +
                     len(checks.get("sql_oracle", {})))
        if not report.ok_ops(raw):
            raise SystemExit(f"perfbench: {workload}: no op passed its checks;"
                             f" first error: {errors[0][:500]}")
        e2e = report.end_to_end(raw)
        metrics = e2e
        result = {
            "workload": workload, "seed": seed, "trace": trace,
            "seconds": seconds, "revision": revision(stamp),
            "conditions": {
                "spark_conf": raw["spark_conf"], "cores": raw["cores"],
                "loadavg_before": load_before, "loadavg_after": load_after},
            "inputs": {"sizes": meta["sizes"], "sha256": digests},
            "attempted": attempted, "failed": len(errors),
            "errors": errors[:5], "oracle_failures": oracle_fail,
            "checks": {k: v for k, v in raw["checks"].items()
                       if k != "sql_oracle"},
            "named": dict(report.named(raw),
                          failed_frac=len(errors) / attempted),
            "ops": [{k: v for k, v in o.items() if k != "error"}
                    for o in raw["ops"]],
        }
        if trace:
            metrics = report.per_layer(raw)
            result["e2e_traced"] = e2e
            result["self_time_split"] = report.self_time_split(raw)
            result["spans"] = [dict(sp, end_ms=sp["start_ms"] + sp["dur_ms"])
                               for sp in raw["spans"]]
        result["metrics"] = metrics
        out_dir = os.path.join(build_dir, "results")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{workload}-seed{seed}-trace{trace}-{int(time.time())}.json"
        with open(os.path.join(out_dir, name), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
        return result
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a terminated run still stops (and waits for) the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR")
                                or os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    classes, stamp = build(build_dir)
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = [run_one(w, a.seed, a.seconds, a.trace, build_dir, classes,
                       stamp) for w in names]
    units = (report.E2E_UNITS if not a.trace else
             {n: u for n, u, _ in report.per_layer_names()})
    metrics = {}
    for r in results:
        log(f"== {r['workload']} (seed {r['seed']}): "
            f"{r['attempted']} ops, {r['failed']} failed")
        for k, v in sorted(r["named"].items()):
            log(f"   {k:20s} {report.NAMED_UNITS[k]:8s} {json.dumps(v)}")
        for e in r["errors"]:
            log(f"   error: {e[:300]}")
        prefix = f"{r['workload']}." if len(results) > 1 else ""
        for k, v in r["metrics"].items():
            if not math.isfinite(v):
                raise SystemExit(f"perfbench: metric {k} is not finite: {v}")
            metrics[prefix + k] = {"value": v, "unit": units[k]}
    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
