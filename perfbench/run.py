#!/usr/bin/env python3
"""The repository's benchmark: one command that builds the engine, generates
seeded inputs, runs one workload in a fresh JVM, checks its outputs against
DuckDB and prints the metrics.

    python3 perfbench/run.py --workload query_suite --seed 1 --seconds 10 --trace 0

Run it from the repository root. Workloads (see BENCHMARK.json for why each
was chosen): query_suite, api_marts. With --trace 0 the last stdout line
carries the end-to-end metrics; with --trace 1 the JVM repeats its timed
rounds with tracing on, and the line carries the per-layer metrics plus the
tracing overhead (traced over untraced rounds). Traced runs also leave
spans.jsonl and layers.json under .bench_build/traces/. Every result line is
appended to .bench_build/results/<workload>.jsonl, which compare.py reads.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import lib  # noqa: E402

# Scale factor of each workload's generated tables (sf 0.01 = 60k lineitem
# rows), and the per-workload inputs the program receives.
SCALE = {"query_suite": 0.002, "api_marts": 0.002}
DOCS = {"query_suite": 100}
REQUESTS_PER_CLIENT = 10
# query_suite's timed slice, by name prefix: the SEC statements build, one
# cheap query of every other registry module, and the ROADMAP-named queries
# that fit a run (q120, the first BPE-mart consumer, and q23's n-gram
# Jaccard).
QUERIES = ["q09", "q16", "q23", "q30", "q32", "q33", "q77", "q120", "q150",
           "q160", "q196"]
# Timed queries whose DuckDB oracle takes seconds on these inputs. A run
# checks a seeded half of these and a seeded half of the others, so ten
# seeds check every query several times over.
COSTLY_ORACLES = ["q120"]
JVM_TIMEOUT_S = 160

# build.sbt's javaOptions, for a direct `java` launch.
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config="
                + os.path.expanduser("~/.sbt/repositories") +
                " -Dsbt.offline=true -Xmx2g -XX:-UsePerfData",
}
BUILD_INPUTS = ["build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest(root):
    h = hashlib.sha256()
    for rel in BUILD_INPUTS:
        p = os.path.join(root, rel)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, work):
    """Compile the engine and the harness with sbt unless the sources are
    unchanged since the last build in this checkout; returns the source
    digest and the harness's runtime classpath."""
    digest = source_digest(root)
    stamp = os.path.join(work, "build.stamp")
    classpath = os.path.join(work, "classpath.txt")
    if not (os.path.exists(stamp) and open(stamp).read() == digest):
        log("building engine and harness (sbt)")
        env = dict(os.environ, **SBT_ENV)
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(root, "perfbench"), env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           text=True, timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-4000:])
            raise SystemExit("build failed")
        with open(classpath, "w") as f:
            f.write(r.stdout.strip().splitlines()[-1])
        with open(stamp, "w") as f:
            f.write(digest)
    with open(classpath) as f:
        return digest, f.read().strip()


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def heap():
    """Tier-1's SPARK_DRIVER_MEM rule: half of RAM in GB, clamped to 2..8."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def make_inputs(workload, data, seed):
    gen.generate(data, seed, SCALE[workload], DOCS.get(workload))
    if workload == "query_suite":
        rng = random.Random(f"verify:{seed}")
        cheap = [q for q in QUERIES if q not in COSTLY_ORACLES]
        verify = (rng.sample(cheap, len(cheap) // 2) +
                  [q for q in COSTLY_ORACLES if rng.random() < 0.5])
        for name, qs in (("queries.txt", QUERIES), ("verify.txt", verify)):
            with open(os.path.join(data, name), "w") as f:
                f.write("\n".join(qs) + "\n")
    if workload == "api_marts":
        lib.write_requests(os.path.join(data, "requests.tsv"), seed,
                           os.cpu_count(), REQUESTS_PER_CLIENT)


def run_jvm(cp, workload, data, run_dir, trace):
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.join(run_dir, "spark-local"))
    cmd = (["java"] + [a for p in OPENS for a in
                       ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{heap()}", "-XX:ReservedCodeCacheSize=1g",
            # no /tmp/hsperfdata_* file: a run writes only inside its checkout
            "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={run_dir}/tmp", "-cp", cp, "perfbench.Main",
            workload, data, run_dir, str(trace)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"{workload} JVM timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"{workload} JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def end_to_end(res):
    """Set-up is JVM start to ready; wall and CPU the median timed round's."""
    return {
        "setup_s": (res["setup_s"], "s"),
        "wall_s": (res["wall_s"], "s"),
        "cpu_s": (res["cpu_s"], "s"),
    }


def per_layer(root, layers):
    """Every per-layer metric BENCHMARK.json names; a layer the workload does
    not exercise did no work in it and reads 0."""
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer"]
    return {m["name"]: {"value": float(layers.get(m["name"]) or 0.0),
                        "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    # The work of a run is fixed (see BENCHMARK.json's run_seconds for its
    # length); --seconds is accepted so every run takes the same arguments.
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        raise SystemExit("run from the repository root: build.sbt and "
                         "src/main/scala/graft are missing here")
    loadavg = os.getloadavg()[0]
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)
    digest, cp = build(root, work)

    scratch = os.path.join(work, f"run-{os.getpid()}")
    data = os.path.join(scratch, "data")
    try:
        make_inputs(a.workload, data, a.seed)
        run_dir = os.path.join(scratch, "jvm")
        steal0, total0 = cpu_ticks()
        res = run_jvm(cp, a.workload, data, run_dir, a.trace)
        steal1, total1 = cpu_ticks()
        res["check"] = check.check(a.workload, data, run_dir, res)
        failed = (sum(1 for o in res["ops"] if not o["ok"]) +
                  res["traced_failed"] + res["verify_failed"] +
                  res["check"]["failed"])
        attempted = (len(res["ops"]) + res["traced_ops"] +
                     res["check"]["checked"])
        tail = lib.tail([o["ms"] for o in res["ops"]])
        if a.trace:
            metrics = per_layer(root, res["layers"])
            out = os.path.join(work, "traces", f"{a.workload}-seed{a.seed}")
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            shutil.copy(os.path.join(run_dir, "spans.jsonl"), out)
            with open(os.path.join(out, "layers.json"), "w") as f:
                json.dump(res["layers"], f, indent=1, sort_keys=True)
        else:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in end_to_end(res).items()}
        stamp = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace,
            "source_digest": digest, "nproc": os.cpu_count(),
            "loadavg_launch": loadavg,
            "contended": loadavg > max(2.0, os.cpu_count() / 16.0),
            # CPU time the hypervisor gave to other machines while the JVM ran
            "steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "ops": len(res["ops"]),
            "op_p50_ms": lib.percentile([o["ms"] for o in res["ops"]], 50),
            "op_tail_ms": tail,
            "round_wall_s": res["round_wall_s"],
            "round_cpu_s": res["round_cpu_s"],
            # last timed round's CPU over the first's: well below 1 means the
            # timed rounds were still warming up
            "cpu_trend": res["round_cpu_s"][-1] / res["round_cpu_s"][-res["timed_rounds"]],
            "live_heap_mb": res["live_heap_mb"], "check": res["check"],
        }
        line = {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}
        os.makedirs(os.path.join(work, "results"), exist_ok=True)
        with open(os.path.join(work, "results", f"{a.workload}.jsonl"), "a") as f:
            f.write(json.dumps(dict(line, stamp=stamp)) + "\n")
        print(json.dumps(stamp))
        print(json.dumps(line))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
