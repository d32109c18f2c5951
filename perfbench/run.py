#!/usr/bin/env python3
"""graft benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload kg_lookup --seed 1 --seconds 10 --trace 0

Run from the repository root. It builds graft and the benchmark's JVM side from
source (perfbench/build.sbt, once per source change), generates the
workload's inputs from the seed, runs the workload in one JVM and prints,
as the last line of stdout, one JSON object: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. Everything it writes stays
under perfbench/work and perfbench/target. See perfbench/README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("kg_lookup", "curation_batch")
# TPC-H scale factor of the generated knowledge graph, per graph workload
GRAPH_SCALE = {"kg_lookup": 0.01}
GRAPH_SEED = 20141     # the graph is fixed; the seed varies what is asked of it
CORPUS_DOCS = 300      # curation_batch corpus size
SETUPS = 3             # set-ups per run; setup_s is their median
HEAP = os.environ.get("SPARK_DRIVER_MEM", "3g")
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
T_START = time.time()


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


def sources():
    """Every file the build compiles or reads."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    return sorted(out)


def build(deadline):
    """Compile graft + the JVM side with sbt when any source changed; return
    the runtime classpath."""
    h = hashlib.sha256(ROOT.encode())
    for p in sources():
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    target = os.path.join(HERE, "target")
    cp_file, stamp_file = os.path.join(target, "classpath.txt"), os.path.join(target, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("perfbench: building graft and the JVM side with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=max(30, deadline - time.time())
                                ).returncode
        except subprocess.TimeoutExpired:
            fail("build timed out; see perfbench/work/build.log")
    if rc != 0 or not os.path.exists(cp_file):
        fail("build failed; see perfbench/work/build.log")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def gen_version():
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def inputs(workload, seed):
    """Generate (once per seed and generator version) the workload inputs;
    return the knowledge-graph dir (None for curation_batch) and the
    per-seed input dir."""
    graph = None
    if workload in GRAPH_SCALE:
        scale = GRAPH_SCALE[workload]
        graph = os.path.join(WORK, "tpch-sf%s-%d" % (scale, GRAPH_SEED))
        gen.write_tpch(graph, GRAPH_SEED, scale)
    d = os.path.join(WORK, "inputs", "%s-%d-%s" % (workload, seed, gen_version()))
    if not os.path.exists(os.path.join(d, ".done")):
        shutil.rmtree(d, ignore_errors=True)
        gen.write_workload(workload, d, seed, graph, CORPUS_DOCS)
        open(os.path.join(d, ".done"), "w").close()
    return graph, d


def jvm(cp, args, env, timeout, log_path):
    # CompileThresholdScaling=0.3 lets C2 compile hot methods after 30% of
    # the default invocation counts: with the default, kg_lookup latency
    # keeps falling for about 50 s of traffic, longer than a run can warm up.
    cmd = ["java", "-Xmx" + HEAP, "-XX:+UseG1GC", "-XX:-UsePerfData",
           "-XX:CompileThresholdScaling=0.3",
           "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, timeout))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("JVM timed out; see " + log_path)
    if rc != 0:
        with open(log_path) as f:
            log("".join(f.readlines()[-40:]))
        fail("JVM exited with %d; see %s" % (rc, log_path))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources not found under %s/src/main/scala" % ROOT)
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("BENCHMARK.json not found at the repository root")
    with open(spec_path) as f:
        spec = json.load(f)

    for d in ("tmp", "logs", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    first = not os.path.exists(os.path.join(HERE, "target", "build.stamp"))
    deadline = T_START + (880 if first else 170)
    cp = build(deadline)
    graph, inp = inputs(a.workload, a.seed)

    env = dict(os.environ)
    tag = "%s-%d-t%d" % (a.workload, a.seed, a.trace)
    store = os.path.join(WORK, "store-lookup")
    env["SPARK_GRAFT_STORE"] = store
    if a.workload == "kg_lookup":
        ready = os.path.join(store, ".ready-" + os.path.basename(graph))
        if not os.path.exists(ready):
            # the lookup store is ingested once per checkout, outside any timing
            jvm(cp, ["--workload", "prebuild", "--data", graph, "--work", WORK],
                env, deadline - time.time(), os.path.join(WORK, "logs", "prebuild.log"))
            open(ready, "w").close()

    out = os.path.join(WORK, "results", tag + ".raw.json")
    if os.path.exists(out):
        os.remove(out)
    args = ["--workload", a.workload, "--inputs", inp, "--work", WORK,
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--setups", str(SETUPS),
            "--out", out]
    if graph:
        args += ["--data", graph]
    jvm(cp, args, env, deadline - time.time(), os.path.join(WORK, "logs", tag + ".log"))
    with open(out) as f:
        raw = json.load(f)

    e2e = report.end_to_end(raw)
    for line in report.summary(a.workload, raw, e2e):
        log(line)
    for e in raw["errors"]:
        log("check failed: " + e)
    if a.trace:
        prev = os.path.join(WORK, "results", "%s-%d-t0.json" % (a.workload, a.seed))
        if os.path.exists(prev):
            with open(prev) as f:
                base = json.load(f)["metrics"]
            log("traced/untraced: " + " ".join(
                "%s %+.1f%%" % (k, 100.0 * (v / base[k]["value"] - 1))
                for k, v in e2e.items() if base.get(k, {}).get("value")))
        metrics = report.select(raw["layers"], spec["per_layer"])
    else:
        metrics = report.select(e2e, spec["end_to_end"])
    result = {"correct": raw["failed"] == 0 and raw["attempted"] > 0,
              "attempted": int(raw["attempted"]), "failed": int(raw["failed"]),
              "metrics": metrics}
    with open(os.path.join(WORK, "results", tag + ".json"), "w") as f:
        json.dump(dict(result, host=raw["host"], end_to_end=e2e), f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
