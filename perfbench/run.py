#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. It builds graft and the
benchmark from source (once per source state), generates the seeded
inputs into .bench_build/, runs the workload's passes in one JVM,
checks the outputs (digests stable across passes and across runs of a
seed; on every third seed one oracle query against DuckDB through
graft.Verify and tools/check.py) and prints one JSON line as the last
line of stdout:
with --trace 0 the end-to-end metrics, with --trace 1 the per-layer
metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
sys.path.insert(0, HERE)
import analyze  # noqa: E402
import gen  # noqa: E402

# Per workload: input sizes, untimed warm-up passes and the fewest timed
# passes (doubled in a traced run, which alternates untraced and traced
# passes). BENCHMARK.json lists the workloads of a standard measurement;
# the others are for manual, mostly traced, runs (see README.md).
WORKLOADS = {
    "fe_pipeline": dict(gen=dict(scale=0.02, orders_scale=0.5), warmup=2, min_passes=2),
    "graph_iterative": dict(gen=dict(scale=0.1), warmup=2, min_passes=2),
    "profile_calls": dict(gen=dict(scale=0.1), warmup=1, min_passes=2),
    "text_curation": dict(gen=dict(scale=0.1, doc_replicas=10), warmup=1, min_passes=2),
}

JVM_OPTS = [
    "-Xms2g", "-Xmx2g", "-Xss8m", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    for base in (GRAFT_SRC, BENCH_SRC):
        for root, dirs, files in os.walk(base):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for build_file in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(build_file, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles graft + the benchmark with sbt unless this source state is
    already built; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building graft and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                           f"{repos} -Dsbt.offline=true -Xmx3g")
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def inputs(workload, seed):
    """Generates (once per workload and seed) the seeded tables."""
    d = os.path.join(BUILD, "data", f"{workload}-{seed}")
    done = os.path.join(d, "tables.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        tables = gen.generate(seed, d, **WORKLOADS[workload]["gen"])
        with open(done, "w") as fh:
            json.dump(tables, fh)
    return d


def oracle_check(data, oracle_dir, queries):
    """Runs tools/check.py on graft.Verify's output; returns the failed
    query names."""
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "check.py"), data, oracle_dir] + queries,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=20)
    ok = {l.split()[1] for l in out.stdout.splitlines() if l.startswith("OK ")}
    failed = [q for q in queries if q not in ok]
    for l in out.stdout.splitlines():
        if l.startswith("FAIL"):
            log(l)
    return failed


def digest_check(workload, seed, report):
    """Digests of one seed must match across runs; the first run records
    them. Returns the number of calls compared and the mismatched ones."""
    path = os.path.join(BUILD, "digests", f"{workload}-{seed}.json")
    now = {}
    for p in report["passes"]:
        for c in p["calls"]:
            if c["ok"]:
                now.setdefault(c["name"], c["digest"])
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(now, fh)
        return 0, []
    with open(path) as fh:
        before = json.load(fh)
    checked = [k for k in now if k in before]
    bad = [k for k in checked if before[k] != now[k]]
    for k in bad:
        log(f"{k}: output digest differs from an earlier run of seed {seed}")
    return len(checked), bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(GRAFT_SRC) or not os.path.exists(os.path.join(ROOT, "tools", "check.py")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala/graft and tools/check.py are missing)")
    modules = analyze.module_map(GRAFT_SRC)
    own = {f for _, _, fs in os.walk(BENCH_SRC) for f in fs}
    clash = own & set(modules)
    if clash:
        raise SystemExit(f"perfbench: benchmark file names shadow graft's: {sorted(clash)}")
    cfg = WORKLOADS[a.workload]

    cp = build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    oracle_dir = os.path.join(work, "oracle")
    for d in (tmp, oracle_dir):
        os.makedirs(d)
    report_path = os.path.join(work, "report.json")
    cmd = ["java", "-cp", cp, f"-Djava.io.tmpdir={tmp}"] + JVM_OPTS + [
        "graft.perfbench.PerfBench", "--workload", a.workload, "--seed", str(a.seed), "--data", data,
        "--work", work, "--seconds", str(a.seconds), "--warmup", str(cfg["warmup"]),
        "--min-passes", str(cfg["min_passes"] * (1 + a.trace)), "--trace", str(a.trace),
        "--report", report_path, "--oracle-out", oracle_dir]
    jvm = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                         text=True, timeout=150)
    if jvm.returncode != 0 or not os.path.exists(report_path):
        sys.stderr.write(jvm.stderr[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {jvm.returncode}")
    for l in jvm.stderr.splitlines():
        if l.startswith("[perfbench]"):
            print(l, file=sys.stderr)
    with open(report_path) as fh:
        report = json.load(fh)

    timed = [c for p in report["passes"] if not p["warmup"] for c in p["calls"]]
    failed_calls = sum(1 for c in timed if not c["ok"])
    queries = report["oracle_queries"]
    failed_oracle = oracle_check(data, oracle_dir, queries) if queries else []
    checked, failed_digests = digest_check(a.workload, a.seed, report)
    attempted = len(timed) + len(queries) + checked
    failed = failed_calls + len(failed_oracle) + len(failed_digests)

    if a.trace:
        metrics = analyze.per_layer(report, modules)
        metrics["run.failed_frac"] = (failed / attempted, "ratio")
    else:
        metrics = analyze.end_to_end(report)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
