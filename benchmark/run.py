#!/usr/bin/env python3
"""Runs one workload of the repository benchmark and prints its metrics.

    python3 benchmark/run.py --workload ingest_http|ingest_backlog|query_mix
                             --seed N --seconds S --trace 0|1
                             [--record-queries] [--dump-queries DIR]

Run it from the repository root. It builds the program and the JVM
harness into .bench_build/ (or $CARGO_TARGET_DIR) when their sources
changed, runs the workload in a fresh JVM with every scratch directory
under .bench_build/runs/, checks the outputs, and prints one line per
metric followed by a last line of JSON:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
reports its per-layer metrics, records spans at each layer boundary,
writes them to .bench_build/traces/ and prints a self-time summary and
the tracing overhead against the last untraced run of the workload.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_tables  # noqa: E402
import inputs as inputs_mod  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("ingest_http", "ingest_backlog", "query_mix")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
HEAP = {"ingest_http": "2g", "ingest_backlog": "3g", "query_mix": "3g"}
# about twice a run's median JVM time on 4 cores (40 s, 32 s, 52 s), so
# a stuck run costs the evaluation little more than two normal ones
JVM_TIMEOUT_S = {"ingest_http": 85, "ingest_backlog": 70, "query_mix": 110}


def die(msg):
    sys.stderr.write("benchmark: %s\n" % msg)
    sys.exit(2)


def main():
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="recorded only: every timed section is a fixed amount of work")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-queries", action="store_true",
                    help="query_mix: rewrite benchmark/expected_queries.tsv from this run")
    ap.add_argument("--dump-queries", metavar="DIR",
                    help="query_mix: also write each result and its oracle SQL to DIR")
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json in the working directory; run from the repository root")
    spec = json.load(open(spec_path))
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        die("no src/main/scala in the working directory; run from the repository root")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    classes = build.build(root, build_dir)

    # inputs: generated once per checkout and seed, never timed
    t0 = time.time()
    if a.workload == "query_mix":
        inputs = inputs_mod.cached(build_dir, "tables-seed%d" % gen_tables.SEED, gen_tables.generate,
                                   os.path.join(HERE, "gen_tables.py"))
    else:
        inputs = inputs_mod.envelopes(build_dir, a.workload, a.seed)
    gen_s = time.time() - t0

    run_dir = os.path.join(build_dir, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    try:
        res = run_jvm(a, root, classes, run_dir, tmp, inputs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res["validity"]["input_generation_s"] = gen_s
    res["validity"]["seconds_arg"] = a.seconds
    report(a, spec, res, build_dir)


def stop_group(p):
    """Stops what is left of the process group of `p` (the JVM and its
    load generator) and waits until every member has ended."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()
    for _ in range(100):
        try:
            os.killpg(p.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def run_jvm(a, root, classes, run_dir, tmp, inputs):
    extra = []
    if a.workload == "query_mix":
        extra += ["--tables", inputs]
        expected = os.path.join(HERE, "expected_queries.tsv")
        if a.record_queries:
            extra += ["--record", expected]
        else:
            extra += ["--expected", expected]
        if a.dump_queries:
            extra += ["--dump", os.path.abspath(a.dump_queries)]
    else:
        extra += ["--inputs", inputs]
    if a.workload == "ingest_http":
        extra += ["--loadgen-cp", os.pathsep.join([classes, build.scala_library()])]
    result = os.path.join(run_dir, "result.json")
    log = os.path.join(run_dir, "jvm.log")
    heap = HEAP[a.workload]
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-Xms" + heap, "-Xmx" + heap, "-XX:-UsePerfData",
            "-Djava.io.tmpdir=" + tmp,
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false",
            "-Dspark.local.dir=" + tmp,
            "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
            "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
            "-Dderby.system.home=" + tmp,
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                                    build.spark_jars() + "/*"]),
            "graftbench.GraftBench",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--run-dir", run_dir, "--result", result] + extra)
    with open(log, "w") as fh:
        # its own process group, so stopping it also stops the JVM's
        # child, the load generator
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S[a.workload])
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            stop_group(p)
    # the JVM log of the latest run of each workload, for diagnosis
    shutil.copy(log, os.path.join(os.path.dirname(os.path.dirname(run_dir)), a.workload + ".log"))
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log).read()[-6000:])
        die("the %s run failed (exit %s)" % (a.workload, rc))
    return json.load(open(result))


def report(a, spec, res, build_dir):
    failures = list(res["failures"])
    failed = int(res["failed"])
    v = dict(res["validity"])
    v.update(res["validity_text"])
    print("validity: " + json.dumps(v, sort_keys=True))
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    src = res["layer"] if a.trace else res["e2e"]
    metrics = {}
    for m in names:
        val = src.get(m["name"])
        # a layer that does not run on this workload reports 0
        metrics[m["name"]] = {"value": 0.0 if val is None else val, "unit": m["unit"]}
    for k, m in metrics.items():
        print("%-40s %14.4f %s" % (k, m["value"], m["unit"]))

    last = os.path.join(build_dir, "last_untraced")
    os.makedirs(last, exist_ok=True)
    if a.trace:
        trace_dir = os.path.join(build_dir, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, "%s-seed%d.spans.json" % (a.workload, a.seed))
        with open(path, "w") as fh:
            json.dump(res["spans"], fh)
        print("spans: %d written to %s" % (len(res["spans"]), path))
        for line in spans.summary(res["spans"]):
            print(line)
        # a span outside its parent is a tracing fault: the run fails
        for s, p, over in spans.escaped(res["spans"]):
            failures.append("span %s sticks out of its parent %s by %.4f s" % (s["name"], p["name"], over / 1e9))
            failed += 1
        ref_path = os.path.join(last, a.workload + ".json")
        if os.path.exists(ref_path):
            for line in spans.overhead(res["e2e"], json.load(open(ref_path))):
                print(line)
        else:
            print("tracing overhead: no untraced run of %s to compare with yet" % a.workload)
    else:
        with open(os.path.join(last, a.workload + ".json"), "w") as fh:
            json.dump({"seed": a.seed, "e2e": res["e2e"]}, fh)
    for f in failures[:50]:
        print("FAIL %s" % f)
    print(json.dumps({"correct": failed == 0, "attempted": int(res["attempted"]),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
