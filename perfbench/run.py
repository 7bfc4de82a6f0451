#!/usr/bin/env python3
"""Benchmark of the engine: one catalog workload and the ETL job (etl_job).

Usage (from the repository root):

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use,
then runs three JVMs in turn, each started fresh and each timed from launch
until its Spark session can take a first request (set-up):

  1. prep:  writes the catalog tables once per checkout and, for etl_job,
            this seed's FHIR study;
  2. ready: set-up only;
  3. main:  the workload itself (see perfbench/workloads.json).

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). Any failed operation or mismatched output makes the run exit 1.
Logs, the trace spans and each run's detail go to perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch")
EXPECTED = os.path.join(HERE, "expected.json")  # frozen catalog rows and hashes
# Replaces the engine's own -Xmx (8g unless SPARK_DRIVER_MEM says otherwise):
# the benchmark's tables are small (heap_peak_mb stays far below 1 GB) and the
# machine's memory may be shared. jvm.gc_s and heap_peak_mb are measured under
# this heap.
HEAP = "-Xmx3g"
RUN_LIMIT_S = 170  # the JVMs of one run, build excluded


def load(name):
    with open(os.path.join(HERE, name)) as f:
        return json.load(f)


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---- build -----------------------------------------------------------------

def source_stamp():
    """Hash of every input of the build: paths and contents."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def built(stamp_file, stamp):
    """The last build is of these sources and its outputs are still there
    (a clean of the engine's target/ removes them)."""
    try:
        with open(stamp_file) as f:
            same = f.read() == stamp
        with open(os.path.join(LAUNCH, "classpath.txt")) as f:
            cp = f.read().strip().split(os.pathsep)
    except FileNotFoundError:
        return False
    return same and all(os.path.exists(p) for p in cp)


def build():
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("engine sources not found: run from the root of a checkout")
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH, "stamp")
    if built(stamp_file, stamp):
        return
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    with open(os.path.join(WORK, "logs", "build.log"), "w") as log:
        rc = subprocess.run(["sbt", "-batch", "writeLaunch"], cwd=HERE,
                            stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL).returncode
    if rc != 0:
        die("build failed, see perfbench/.work/logs/build.log", 1)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def java_command(mode, args):
    with open(os.path.join(LAUNCH, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(LAUNCH, "jvm_opts.txt")) as f:
        opts = [o for o in f.read().split("\n") if o and not o.startswith("-Xmx")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file in the system temp directory: the run writes only
    # inside the checkout
    return (["java"] + opts + [HEAP, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp,
            "perfbench.Main", mode, f"work={WORK}"] +
            [f"{k}={v}" for k, v in args.items()])


def run_jvm(mode, args, log_name, deadline):
    """Run one JVM to completion, killing it at `deadline` (a time.monotonic
    value); returns its set-up seconds (launch until PERFBENCH_READY).
    Raises on failure."""
    with open(os.path.join(WORK, "logs", log_name), "w") as log:
        t0 = time.perf_counter()
        proc = subprocess.Popen(java_command(mode, args), cwd=WORK,
                                stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True)
        timer = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
        timer.start()
        setup = None
        try:
            for line in proc.stdout:
                if setup is None and line.strip() == "PERFBENCH_READY":
                    setup = time.perf_counter() - t0
            rc = proc.wait()
        finally:
            timer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            proc.stdout.close()
    if rc != 0 or setup is None:
        raise RuntimeError(f"{mode} JVM exited with {rc}, see perfbench/.work/logs/{log_name}")
    return setup


# ---- checks ----------------------------------------------------------------

def catalog_mismatches(expected, checks, queries):
    """Queries whose row count or hash differs from the frozen expectation,
    or that produced no check at all."""
    bad = []
    for q in queries:
        got, want = checks.get(q), expected.get(q)
        if got is None or want is None or \
                got["rows"] != want["rows"] or got["hash"] != want["hash"]:
            bad.append(q)
    return bad


def etl_mismatches(result):
    """Resource types whose snapshot export differs from the input, plus any
    partition of the project left behind after a delete."""
    bad = [f"export {t}" for t, v in sorted(result["export"].items())
           if v["input"] != v["export"]]
    if sorted(result["export"]) != sorted(result["resources"]):
        bad.append("export: resource types differ")
    bad += [f"leftover {p}" for p in result["leftovers"]]
    return bad


# ---- main ------------------------------------------------------------------

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    spec = load("workloads.json")
    if a.workload not in spec["workloads"]:
        die(f"unknown workload {a.workload}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    build()
    for d in ("logs", "traces", "runs"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)

    w = spec["workloads"][a.workload]
    data = os.path.join(WORK, f"data-sf{spec['scale_factor']}")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out = os.path.join(WORK, "runs", f"{tag}.jvm.json")
    prep = {"data": data, "sf": spec["scale_factor"]}
    main_args = {"data": data, "seed": a.seed, "seconds": a.seconds,
                 "trace": a.trace, "out": out}
    if w["kind"] == "etl":
        study = os.path.join(WORK, "study")
        project = f"bench-s{a.seed}"
        prep.update(study=study, project=project, seed=a.seed,
                    fraction=w["study_fraction"])
        main_args.update(study=study, project=project)
    else:
        queries = w["heavy"] + w["light"]
        main_args["queries"] = ",".join(queries)

    deadline = time.monotonic() + RUN_LIMIT_S
    setups = [run_jvm("prep", prep, f"{tag}.prep.log", deadline),
              run_jvm("ready", {}, f"{tag}.ready.log", deadline),
              run_jvm(w["kind"], main_args, f"{tag}.main.log", deadline)]
    with open(out) as f:
        result = json.load(f)

    if w["kind"] == "etl":
        bad = etl_mismatches(result)
    else:
        with open(EXPECTED) as f:
            expected = json.load(f)
        bad = catalog_mismatches(expected, result["checks"], queries)
    failed = result["failed"] + len(bad)
    correct = failed == 0

    if a.trace:
        layer = result["trace"]["metrics"]
        metrics = {m["name"]: {"value": layer.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
        with open(os.path.join(WORK, "traces", f"{tag}.json"), "w") as f:
            json.dump({"spans": result["trace"]["trace_spans"],
                       "self_s": result["trace"]["self_s"]}, f)
    else:
        e2e = dict(result["metrics"], setup_s=statistics.median(setups))
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in bench["end_to_end"] if m["name"] in e2e}
    detail = {k: v for k, v in result.items() if k not in ("trace", "checks")}
    detail.update(setups_s=setups, mismatches=bad)
    with open(os.path.join(WORK, "runs", f"{tag}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    summary = {k: detail[k] for k in ("resources", "input_bytes", "samples",
                                      "warm_passes", "cycles", "cold", "warm")
               if k in detail}
    print("detail: " + json.dumps(dict(summary, setups_s=setups, mismatches=bad,
                                       errors=result["errors"])))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    # a terminated run still kills and waits for its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except RuntimeError as e:
        die(str(e), 1)
