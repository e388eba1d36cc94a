#!/usr/bin/env python3
"""Benchmark of graft's declared query results, one workload per run.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from this checkout's sources together with the harness
in benchmark/harness (sbt, once per source change), then launches a fresh
JVM that calls graft.SparkEntry.queries(name)(spark, lake) for the
workload's queries and materializes every declared result with the `noop`
sink. Each workload is a closed loop with one client: a pass runs the
queries one after another in an order permuted by --seed. The JVM starts
from an emptied state dir, so no run reads another run's fixtures, and
its results are checked against the DuckDB oracles (oracle.py).

With --trace 0 the last stdout line reports the end-to-end metrics, from
untraced passes; with --trace 1 it reports the per-layer metrics of a
traced run. Human-readable detail goes to stdout before it, and the full
record (per-pass warm-up evidence, spans, self times) to
<build dir>/runs/. The lake is $SPARK_GRAFT_SF_DIR, default
~/testdata/sf0.1, the program's bench lake.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import oracle  # noqa: E402

# Why each workload, and which layers it loads, is in BENCHMARK.json. The
# query lists are small samples of their families, so that a pass takes a
# few seconds on two task slots and a whole run about a minute.
WORKLOADS = {
    # bronze JSON landing -> silver cleanse/dedup -> gold funnel and sinks
    "medallion_etl": ["funnel_flagship", "scan_json_multiline", "scan_ndjson",
                      "ts_parse_iso", "dedup_latest", "sink_overwrite",
                      "merge_upsert"],
    # fixed-point loops: many small driver jobs per result
    "iterative_analytics": ["graph_label_propagation", "graph_bfs",
                            "dedup_components_cold"],
}
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def task_slots():
    """Half the usable CPUs: JIT, GC and driver threads keep the rest."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def build_dir():
    d = Path(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    return d if d.is_absolute() else ROOT / d


def source_stamp():
    h = hashlib.sha256()
    for base in (ROOT / "src" / "main", HERE / "harness"):
        for p in sorted(base.rglob("*")):
            rel = p.relative_to(ROOT).as_posix()
            if p.is_file() and "/target/" not in f"/{rel}/":
                h.update(rel.encode() + b"\0" + p.read_bytes() + b"\0")
    return h.hexdigest()


def build():
    """Compiles program + harness when the sources changed; returns the
    runtime classpath."""
    out = build_dir() / "harness"
    stamp_file, cp_file = out / "stamp", out / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    env = dict(os.environ, GRAFT_BENCH_TARGET=str(out))
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    env.setdefault("COURSIER_MODE", "offline")
    cp_file.unlink(missing_ok=True)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                       cwd=HERE / "harness", env=env, stdout=sys.stderr,
                       stderr=sys.stderr, stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not cp_file.exists():
        fail("build failed")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_jvm(cp, state, queries, seconds, trace, workload):
    """Runs graftbench.Main in an emptied `state` dir; returns its record."""
    if state.exists():
        shutil.rmtree(state)
    (state / "tmp").mkdir(parents=True)
    out = state / "result.json"
    # JDK 17 module opens and code cache size as in the program's build.sbt;
    # -UsePerfData keeps the JVM's hsperfdata file out of /tmp
    cmd = (["java", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={state / 'tmp'}",
            f"-Dderby.system.home={state / 'derby'}",
            f"-Dderby.stream.error.file={state / 'derby.log'}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--sf", sf_dir(), "--state", str(state), "--queries", ",".join(queries),
              "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(task_slots()), "--out", str(out), "--workload", workload])
    log = state.parent / (state.name + ".log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=state, stdout=lf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0 or not out.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    return json.loads(out.read_text())


def sf_dir():
    return os.path.expanduser(os.environ.get("SPARK_GRAFT_SF_DIR", "~/testdata/sf0.1"))


def dir_mb(p):
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) / 1048576.0


def med(xs):
    return statistics.median(xs) if xs else float("nan")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no graft sources under {ROOT / 'src'}")
    if not os.path.isdir(sf_dir()):
        fail(f"lake {sf_dir()} not found (set SPARK_GRAFT_SF_DIR)")
    cp = build()

    queries = list(WORKLOADS[a.workload])
    random.Random(a.seed).shuffle(queries)
    work = build_dir() / "runs"
    work.mkdir(parents=True, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"

    state = work / "state"
    jvm = run_jvm(cp, state, queries, a.seconds, a.trace, a.workload)
    jvm["disk_mb"] = sum(dir_mb(state / d) for d in ("program", "warehouse", "derby"))
    check = oracle.check(jvm["check_dir"], queries, jvm["oracles"], sf_dir(),
                         str(build_dir() / "oracle"))
    bad = {q: s for q, s in check.items() if s != "ok"}
    failed = len(jvm["errors"]) + len(bad)
    passes = [p for p in jvm["passes"] if p["kind"] == "timed"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    detail = {"workload": a.workload, "seed": a.seed, "order": queries,
              "task_slots": task_slots(), "check": check, **jvm}
    (work / f"{tag}.json").write_text(json.dumps(detail))

    print(f"workload {a.workload}: order {queries}, {task_slots()} task slots, "
          f"lake {sf_dir()}")
    print("pass kind   traced  wall_s  jit_s  gc_s   cpu_s  codegen  steal%")
    for p in jvm["passes"]:
        print(f"{p['pass']:>4} {p['kind']:<6} {int(p['traced']):>6} {p['wall_s']:7.3f} "
              f"{p['jvm.jit_s']:6.2f} {p['jvm.gc_s']:5.2f} {p['jvm.cpu_s']:6.2f} "
              f"{int(p['codegen.compiles']):>8} {p['host.steal_pct']:7.2f}")
    print("phase ends (s since JVM launch): " +
          ", ".join(f"{k} {v:.1f}" for k, v in jvm["phase_end_s"].items()))
    for e in jvm["errors"]:
        print(f"error: {e}")
    for q, st in sorted(check.items()):
        print(f"check {q}: {st}")
    for q in queries:
        ts = [p["queries"][q] for p in passes if q in p["queries"]]
        print(f"query.{q}_s = {med(ts):.4f} s (median of {len(ts)} passes)")

    if a.trace == 0:
        metrics = {
            "pass_s": (med([p["wall_s"] for p in plain]), "s"),
            "setup_s": (jvm["setup_s"], "s"),
            "heap_live_mb": (jvm["heap_live_mb"], "MB"),
        }
        print(f"pass_s is the median of {len(plain)} timed passes")
    else:
        metrics = per_layer(jvm, traced, plain)
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": jvm["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


COUNTERS = [
    "catalog.build_s", "catalyst.actions", "catalyst.analysis_s",
    "catalyst.optimization_s", "catalyst.planning_s", "sched.jobs", "sched.stages",
    "sched.tasks", "exec.task_s", "exec.task_cpu_s", "exec.task_gc_s",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
    "scan.input_mb", "scan.input_rows", "sink.output_mb", "sink.output_rows",
    "codegen.compiles", "codegen.classes", "jvm.jit_s", "jvm.gc_s", "jvm.cpu_s",
    "host.steal_pct", "host.load_avg",
]


def unit_of(name):
    for suffix, unit in (("_s", "s"), ("mb", "MB"), ("_pct", "%"), ("_avg", "load")):
        if name.endswith(suffix):
            return unit
    return "count"


def per_layer(jvm, traced, plain):
    """Per-pass medians over the traced passes, plus set-up compiles, layer
    self times, session state, kernel throughput and tracing overhead."""
    m = {k: (med([p[k] for p in traced]), unit_of(k)) for k in COUNTERS}
    m["codegen.compiles.setup"] = (jvm["passes"][0]["codegen.compiles"], "count")
    for layer in ("pass", "query", "build", "execute", "job"):
        m[f"self.{layer}_s"] = (jvm["self_s"].get(layer, 0.0) / len(traced), "s")
    for k in ("state.cached_plans", "state.persisted_rdds", "state.storage_mb"):
        m[f"{k}.first"] = (jvm["state_first"][k], unit_of(k))
        m[f"{k}.last"] = (jvm["state_last"][k], unit_of(k))
    m["sink.disk_mb"] = (jvm["disk_mb"], "MB")
    for k, v in sorted(jvm["kernels"].items()):
        m[k] = (v, "rows/s")
    t, u = med([p["wall_s"] for p in traced]), med([p["wall_s"] for p in plain])
    m["trace.pass_s"] = (t, "s")
    m["trace.overhead_pct"] = (100.0 * (t / u - 1.0), "%")
    return m


if __name__ == "__main__":
    main()
