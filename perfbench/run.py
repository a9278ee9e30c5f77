#!/usr/bin/env python3
"""Benchmark of the graft engine: three seeded workloads on one local Spark
process, end-to-end metrics by default and per-layer metrics with --trace 1.

    python3 perfbench/run.py --workload supplier_dag --seed 1 --seconds 8 --trace 0

Workloads: supplier_dag, dashboard, curation_catalog (see perfbench/README.md).
The run builds the engine and the harness from source when they changed
(perfbench/build.py), generates its inputs from the seed, runs the JVM
harness, checks every output against a DuckDB oracle, prints one line per
figure and, last, one JSON object. It reads and writes only below the
checkout: `.bench_build/` (classes), `.bench_run/` (inputs, removed at exit)
and `.bench_out/` (the trace of each traced run).
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("supplier_dag", "dashboard", "curation_catalog")
# corpus size per workload, as a share of the sf0.1 cardinalities
CORPUS_SCALE = {"dashboard": 1.0, "curation_catalog": 0.5}
# the harness JVM is stopped this long after the build: a fixed allowance for
# start, set-up and checks, plus a multiple of the measuring window
def deadline_s(seconds):
    return 120 + 5 * seconds


# A fixed heap and young generation: the collector's own sizing choices
# otherwise move the JVM's resident high-water mark by a quarter between
# identical runs, and peak_rss_mb would track them instead of the program.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn1g"]
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def run_jvm(cp, args, work, timeout):
    cmd = (["java"] + HEAP + ["-Xss8m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Harness"] + [str(a) for a in args])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            # also on a signal: the JVM never outlives the run
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        die(f"harness JVM ended with {rc}:\n{tail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    # the metric names and units the run reports are those BENCHMARK.json lists
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        die("no BENCHMARK.json at the checkout root")
    spec = json.load(open(spec_path))

    import build
    cp = build.build()
    import gen_corpus
    import oracle

    # set-up is timed from here: the build above is skipped on every run
    # but the first in a checkout
    t_setup = time.time()
    t_built = time.monotonic()
    k = min(4, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        corpus = os.path.join(work, "corpus")
        if a.workload in CORPUS_SCALE:
            gen_corpus.generate(corpus, a.seed, CORPUS_SCALE[a.workload], k)
        result = os.path.join(work, "result.json")
        run_jvm(cp, [a.workload, a.seed, a.seconds, a.trace, corpus, work, result, k],
                work, max(1.0, deadline_s(a.seconds) - (time.monotonic() - t_built)))
        res = json.load(open(result))
        t_checks = time.time()
        setup_s = res["first_timed_ms"] / 1000.0 - t_setup

        # untimed oracle checks
        attempted, failed = res["attempted"], res["failed"]
        fails = list(res["failures"])
        checks = []
        if a.workload == "supplier_dag":
            checks.append(oracle.check_dag(res["dag_dir"], int(res["dag_suppliers"]),
                                           int(res["dag_pos"])))
        else:
            checks.append(oracle.check_outputs(corpus, os.path.join(work, "out")))
        if a.workload == "dashboard":
            checks.append(oracle.check_slices(corpus, os.path.join(work, "out"), res["slices"]))
        for n, f in checks:
            attempted += n
            failed += len(f)
            fails += f
        for f in fails:
            print(f"FAIL {f}", file=sys.stderr)
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write("".join(l for l in f if l.startswith("[perfbench]")))
        print(f"[perfbench] setup {setup_s:.2f} s, oracle checks {time.time() - t_checks:.2f} s",
              file=sys.stderr)

        if a.trace:
            out = os.path.join(ROOT, ".bench_out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(out, f"{a.workload}-seed{a.seed}-trace.json"))
            # a layer this workload does not reach did no work: it reads 0
            values = {m["name"]: res["layers"].get(m["name"], 0.0) for m in spec["per_layer"]}
            idle = [n for n in values if n not in res["layers"]]
            print(f"[perfbench] {len(idle)} per-layer metrics not reached by {a.workload}",
                  file=sys.stderr)
        else:
            values = {"setup_s": setup_s, "peak_rss_mb": res["peak_rss_mb"]}
            values.update({n: res[n] for n in
                           ("latency_ms_p50", "latency_ms_p80", "throughput_per_s")})
            for s in res["summary"]:
                print(f"{a.workload} {s['name']} = {s['value']:.6g} {s['unit']} (n={s['n']})")
            print(f"{a.workload} setup_s = {setup_s:.6g} s (n=1)")
            print(f"{a.workload} failed_ratio = {failed / attempted:.6g} (n={attempted})")
            print(f"{a.workload} peak_rss_mb = {res['peak_rss_mb']:.6g} MiB (n=1)")
            # the host's speed in this run, to tell a slow host from a slow program
            print(f"{a.workload} host.cal_s = {res['layers']['host.cal_s']:.6g} s (n=2)")
        kind = "per_layer" if a.trace else "end_to_end"
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
