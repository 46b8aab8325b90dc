#!/usr/bin/env python3
"""Benchmark of graft's five-stage episode pipeline and its oracle gates.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/NOTES.md):

* ``pipeline_full``  fresh ingest of a seeded episode corpus
* ``gates_board``    a fixed board of oracle gates on seeded tables

The script compiles the program (``src/main/scala``) together with the
JVM harness (``perfbench/scala``) into ``.bench_build/perfbench`` on the
first run, generates the inputs from ``--seed`` under ``.bench_work``,
runs the harness in one JVM, checks every output, and prints one JSON
line: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics).
"""
import argparse
import contextlib
import hashlib
import io
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen  # noqa: E402

ROOT = os.getcwd()
PROGRAM_SRC = "src/main/scala"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".bench_work")

WORKLOADS = ("pipeline_full", "gates_board")
EPISODES = 102            # episodes in the pipeline corpus
FRAMES = 366              # frames per episode (MakeRefScaleCorpus shape)
SF = 0.01                 # scale factor of the gate tables
# The gate board: from each of the twelve query modules, every STRIDE-th
# gate in name order, starting with the first (13 of the 218 gates)
STRIDE = 32

STAGES = ("discover", "validate", "stats", "align_transform", "materialize")
MODULES = ("relational", "text", "dedup", "similarity", "streaming", "sampling",
           "corpus", "graph", "curation", "bpe", "classifier", "behavior")
STAGE_COUNTERS = (("jobs", "count"), ("single_task_stages", "count"),
                  ("tasks", "count"), ("shuffle_write_mb", "MB"), ("input_mb", "MB"),
                  ("output_mb", "MB"), ("spill_mb", "MB"), ("cpu_s", "s"), ("gc_s", "s"))
STAGE_RESULT = {"discover": "delta_rows", "validate": "episodes",
                "stats": "episodes_used", "align_transform": "episodes",
                "materialize": "episodes"}
MODULE_COUNTERS = (("wall_s", "s"), ("eager_s", "s"), ("jobs", "count"),
                   ("shuffle_write_mb", "MB"))
FLOAT_TOL = 1e-6


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --- build ---------------------------------------------------------------------

def spark_jars():
    """Spark's jars (with its Scala compiler), where build.sbt takes them
    from: /opt/spark/jars, or $SPARK_HOME/jars when that is set."""
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"Spark jars not found at {jars}; set SPARK_HOME")
    return os.path.join(jars, "*")


def sources():
    out = []
    for base in (PROGRAM_SRC, os.path.join(HERE, "scala")):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile program + harness once per source tree (keyed by a hash)."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(BUILD, "stamp")
    classes = os.path.join(BUILD, "classes")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return classes
    log(f"compiling {len(srcs)} sources")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    jars = spark_jars()
    rc = subprocess.run(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                         f"-Djava.io.tmpdir={BUILD}", "-cp", jars, "scala.tools.nsc.Main",
                         "-nowarn", "-d", classes, "-classpath", jars, "@" + argfile],
                        stdout=sys.stderr).returncode
    if rc != 0:
        raise SystemExit(f"compilation failed ({rc})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


# --- harness -------------------------------------------------------------------

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_harness(classes, workload, work, seconds, trace, cpus, deadline):
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           f"-Djava.io.tmpdir={work}/tmp"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{classes}{os.pathsep}{spark_jars()}", "graft.perfbench.Harness",
            f"workload={workload}", f"work={work}", f"seconds={seconds}",
            f"trace={trace}", f"cpus={cpus}", f"stride={STRIDE}",
            f"tables={work}/tables"]
    os.makedirs(f"{work}/tmp", exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/tmp")
    proc = subprocess.Popen(cmd, stdout=sys.stderr, env=env)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("harness timed out")
    if rc != 0:
        raise SystemExit(f"harness exited with {rc}")
    with open(f"{work}/harness.json") as f:
        return json.load(f)


# --- checks --------------------------------------------------------------------

class Checks:
    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def expect(self, ok, what):
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"check failed: {what}")


def all_close(a, b):
    return len(a) == len(b) and all(
        math.isfinite(x) and abs(x - y) <= FLOAT_TOL * max(1.0, abs(y)) for x, y in zip(a, b))


def check_calls(chk, passes):
    for p in passes:
        for c in p["calls"]:
            chk.expect(c["error"] is None, f"pass {p['index']} {c['name']}: {c['error']}")


def check_pipeline(chk, h, work):
    with open(f"{work}/expect.json") as f:
        e = json.load(f)
    n = e["episodes"]
    for p in h["passes"]:
        k, o = p["index"], p["obs"]
        # a fresh ingest: every episode is NEW, and every one is valid
        checks = [
            (o.get("manifest.status_counts") == {"NEW": n}, "manifest statuses"),
            (o.get("discover.delta_rows") == n, "delta rows"),
            (o.get("validate.totals") == [n, n, 0], "validate totals"),
            (o.get("stats.episodes_used") == n, "stats episodes_used"),
            (o.get("stats.total_frames") == e["total_frames"], "stats total_frames"),
            (o.get("align_transform.episodes") == n, "normalized episodes"),
            (o.get("normalized.files") == n, "normalized files"),
            (o.get("materialize.episodes") == n, "materialized episodes"),
        ]
        for stat in ("mean", "std"):
            for feat, want in e[stat].items():
                got = (o.get(f"stats.{stat}") or {}).get(feat, [])
                checks.append((all_close(got, want), f"global {stat} of {feat}"))
        split = o.get("materialize.split")
        split = split if isinstance(split, dict) else {"episodes": {}, "frames": {}}
        checks.append((sum(split["episodes"].values()) == n, "split episode counts"))
        checks.append((sum(split["frames"].values()) == e["total_frames"], "split frames"))
        for ok, what in checks:
            chk.expect(ok, f"pass {k}: {what}")


def import_verify_local():
    tools = os.path.join(ROOT, "tools")
    sys.path.insert(0, tools)
    try:
        import verify_local
    finally:
        sys.path.remove(tools)
    return verify_local


def check_gates(chk, h, work):
    # rows of the first pass against the DuckDB oracle, with the
    # repository's own compare (tools/verify_local.py)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        import_verify_local().main(f"{work}/tables", f"{work}/verify")
    verdict = {}
    for line in buf.getvalue().splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            verdict[rest.split(" ")[0].rstrip(":")] = (word == "PASS", line)
    chk.expect(len(h["gates"]) > 0, "the gate board is empty")
    for g in h["gates"]:
        ok, line = verdict.get(g, (False, f"{g}: no oracle verdict"))
        chk.expect(ok, f"oracle {line}")
    # rows of every later pass against the oracle-confirmed first pass
    for p in h["passes"]:
        if p["index"] > 0:
            for g in h["gates"]:
                chk.expect(g not in p["obs"]["rows_mismatched"], f"pass {p['index']} {g} rows")


# --- metrics -------------------------------------------------------------------

def med(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """q-th percentile (inclusive quantiles) of a small sample."""
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def call_medians(measured):
    """Each call's (stage's or gate's) median wall time over the passes."""
    walls = {}
    for p in measured:
        for c in p["calls"]:
            walls.setdefault(c["name"], []).append(c["wall_s"])
    return [med(w) for w in walls.values()]


def end_to_end(h, setup_s, workload):
    measured = [p for p in h["passes"] if not p["warmup"]]
    calls = call_medians(measured)
    if workload == "gates_board":
        out = med([p["obs"]["result_bytes"] for p in measured])
    else:
        out = med([p["obs"]["bytes_out"] for p in measured])
    return {
        "pass_s": (sum(calls), "s"),
        "call_p95_s": (pct(calls, 95), "s"),
        "setup_s": (setup_s, "s"),
        "heap_mb": (h["heap_mb"], "MB"),
        "bytes_out_per_byte_in": (out / h["bytes_in"], "ratio"),
    }


def per_layer(h):
    traced = [p for p in h["passes"] if p["traced"]]
    untraced = [p for p in h["passes"] if not p["warmup"] and not p["traced"]]
    mb = 1048576.0

    def layer_values(p, layer):
        cs = [c for c in p["counters"] if c["layer"] == layer]
        walls = [c for c in p["calls"] if c["layer"] == layer]
        return {
            "wall_s": sum(c["wall_s"] for c in walls),
            "eager_s": sum(c["eager_s"] or 0.0 for c in walls),
            "jobs": sum(c["jobs"] for c in cs),
            "single_task_stages": sum(c["single_task_stages"] for c in cs),
            "tasks": sum(c["tasks"] for c in cs),
            "shuffle_write_mb": sum(c["shuffle_write"] for c in cs) / mb,
            "input_mb": sum(c["input"] for c in cs) / mb,
            "output_mb": sum(c["output"] for c in cs) / mb,
            "spill_mb": sum(c["spill"] for c in cs) / mb,
            "cpu_s": sum(c["cpu_ns"] for c in cs) / 1e9,
            "gc_s": sum(c["gc_ms"] for c in cs) / 1e3,
        }

    m = {}
    for stage in STAGES:
        vals = [layer_values(p, stage) for p in traced]
        m[f"{stage}.wall_s"] = (med([v["wall_s"] for v in vals]), "s")
        for key, unit in STAGE_COUNTERS:
            m[f"{stage}.{key}"] = (med([v[key] for v in vals]), unit)
        res = f"{stage}.{STAGE_RESULT[stage]}"
        m[res] = (med([p["obs"].get(res) for p in traced]), "count")
    for key, unit in (("pins_live", "count"), ("cached_mb", "MB")):
        m[key] = (med([p["obs"][key] for p in traced]), unit)
    for mod in MODULES:
        vals = [layer_values(p, f"queries.{mod}") for p in traced]
        for key, unit in MODULE_COUNTERS:
            m[f"queries.{mod}.{key}"] = (med([v[key] for v in vals]), unit)
    m["spark.jobs"] = (med([sum(c["jobs"] for c in p["counters"]) for p in traced]), "count")
    m["spark.single_task_stages"] = (
        med([sum(c["single_task_stages"] for c in p["counters"]) for p in traced]), "count")
    # the median call flips between calls of similar cost from run to run,
    # too unsteady to gate on, so it is reported here
    m["call_p50_s"] = (pct(call_medians(traced + untraced), 50), "s")
    base = med([p["pass_s"] for p in untraced])
    m["tracing.overhead_pct"] = (
        100.0 * (med([p["pass_s"] for p in traced]) / base - 1.0) if base else 0.0, "%")
    return m


# --- main ----------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        log(f"no program sources under {PROGRAM_SRC}: run from the repository root")
        return 2
    classes = build()
    # a run must end within 180 s of its start, build excluded
    deadline = time.time() + 165
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    t0 = time.time()
    if a.workload == "gates_board":
        gen.tables(f"{work}/tables", a.seed, SF)
    else:
        gen.corpus(work, a.seed, EPISODES, FRAMES)
    h = run_harness(classes, a.workload, work, a.seconds, a.trace, cpus, deadline)
    setup_s = h["setup_done_ms"] / 1e3 - t0

    chk = Checks()
    check_calls(chk, h["passes"])
    if a.workload == "gates_board":
        check_gates(chk, h, work)
    else:
        check_pipeline(chk, h, work)

    metrics = per_layer(h) if a.trace else end_to_end(h, setup_s, a.workload)
    host = dict(h["host"], workload=a.workload, seed=a.seed, trace=a.trace,
                passes=sum(1 for p in h["passes"] if not p["warmup"]))
    os.makedirs(WORK_ROOT, exist_ok=True)
    with open(os.path.join(WORK_ROOT, "host.jsonl"), "a") as f:
        f.write(json.dumps(host) + "\n")
    print(json.dumps({"host": host}))
    print(json.dumps({
        "correct": chk.failed == 0, "attempted": chk.attempted, "failed": chk.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
