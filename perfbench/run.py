#!/usr/bin/env python3
"""Benchmark of the graft query engine: one workload, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload short_mix --seed 1 --seconds 6 --trace 0

Builds the program and the driver from source when the sources changed
(sbt, offline), runs `perfbench.Driver` in one JVM, checks every query's
output against the DuckDB-derived fingerprints in `expected.json`, and
prints as its last stdout line one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` reports the end-to-end
metrics of BENCHMARK.json, `--trace 1` the per-layer ones. The full
record of the run (stamps, per-pass and per-query times, trace spans)
is written under `perfbench/.out/`.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
RUN_LIMIT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (same list as the
# program's build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f))
    return sorted(files)


def build():
    """Returns the driver's runtime classpath and whether it compiled, which
    it does only when a source changed since the last build."""
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = os.path.join(WORK, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            s = json.load(fh)
        if s["sources"] == h.hexdigest() and all(os.path.exists(p) for p in s["classpath"]):
            return s["classpath"], False
    log("building program and driver with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx3g", f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True, timeout=700)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip().split(os.pathsep)
    with open(stamp, "w") as fh:
        json.dump({"sources": h.hexdigest(), "classpath": classpath}, fh)
    return classpath, True


def java_cmd(classpath, heap):
    """Command prefix that runs `perfbench.Driver` on `classpath`."""
    return (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xms{heap}", f"-Xmx{heap}",
        "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Duser.timezone=UTC",
        "-cp", os.pathsep.join(classpath), "perfbench.Driver"])


def run_driver(classpath, workload, spec, args, out_file, deadline):
    tmp = os.path.join(WORK, "tmp")
    for d in ("tmp", "check", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(tmp)
    cores = len(os.sched_getaffinity(0))
    cmd = java_cmd(classpath, spec["heap"]) + [
        f"workload={args.workload}", f"queries={','.join(workload['queries'])}",
        f"data={os.path.join(HERE, workload['data'])}", f"seed={args.seed}",
        f"seconds={args.seconds}", f"trace={args.trace}", f"work={WORK}", f"cores={cores}",
        f"max_steal={spec['max_pass_steal']}", f"warmup={spec['warmup_passes']}",
        f"min_passes={spec['min_measured_passes']}", f"out={out_file}"]
    log_file = out_file[:-len(".json")] + ".log"
    # the program's knobs, JVM option overrides and Spark's scratch-dir
    # variable would change what is measured or where it writes
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")
           and k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS", "JDK_JAVA_OPTIONS")}
    with open(log_file, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: driver exceeded the run limit; see {log_file}")
    if rc != 0 or not os.path.exists(out_file):
        with open(log_file) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: driver failed with code {rc}; see {log_file}")
    with open(out_file) as fh:
        return json.load(fh)


def check_outputs(record, expected):
    """Names of queries whose check-pass result is missing or differs."""
    bad = {}
    for c in record["check"]:
        name = c["name"]
        if c["error"]:
            bad[name] = f"threw: {c['error']}"
            continue
        want = expected.get(name)
        if want is None:
            bad[name] = "no expected result"
            continue
        try:
            got = oracle.parquet_fingerprint(os.path.join(WORK, "check", name))
        except Exception as e:  # unsortable or unreadable result
            bad[name] = f"canonicalize error: {type(e).__name__}: {e}"
            continue
        if got != want:
            bad[name] = f"mismatch: {got['rows']} rows {got['columns']} vs {want['rows']} rows {want['columns']}"
    return bad


def counted_passes(record, min_passes):
    """The untraced measured passes the figures are taken from: those whose
    host CPU steal stayed within the limit, or, when fewer than
    `min_passes` did, the `min_passes` passes with the least steal."""
    warm = [p for p in record["passes"] if p["kind"] == "measured" and not p["traced"]]
    clean = [p for p in warm if p["steal_frac"] <= record["max_steal"]]
    if len(clean) >= min_passes:
        return clean
    return sorted(sorted(warm, key=lambda p: p["steal_frac"])[:min_passes], key=lambda p: p["index"])


def end_to_end(record, min_passes):
    """End-to-end metrics from the counted passes. Every figure but the
    set-up and the cold pass starts from each query's median wall time
    over those passes: a workload runs only a handful of distinct queries,
    so percentiles of the pooled executions would sit in the gap between
    two queries' times and move with the number of passes that fit."""
    passes = counted_passes(record, min_passes)
    samples = [q["wall_s"] for p in passes for q in p["queries"] if not q["error"]]
    per_query = {}
    for p in passes:
        for q in p["queries"]:
            if not q["error"]:
                per_query.setdefault(q["name"], []).append(q["wall_s"])
    medians = sorted(statistics.median(v) for v in per_query.values())
    deciles = statistics.quantiles(medians, n=10) if len(medians) > 1 else medians * 9
    return {
        "setup_s": record["setup"]["setup_s"],
        "cold_pass_s": record["passes"][0]["wall_s"],
        "pass_s": sum(medians),
        "query_p50_s": statistics.median(medians),
        "query_p90_s": deciles[8],
        "query_geomean_s": math.exp(sum(math.log(m) for m in medians) / len(medians)),
        "live_mem_mb": record["memory_mb"]["live_heap_mb"] + record["memory_mb"]["non_heap_mb"],
    }, [p["index"] for p in passes], len(samples)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.monotonic()

    program = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala", "graft")]
    if not all(os.path.exists(p) for p in program):
        raise SystemExit("perfbench: the program's sources are not in this checkout")
    with open(os.path.join(HERE, "workloads.json")) as fh:
        spec = json.load(fh)
    if args.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {args.workload}")
    workload = spec["workloads"][args.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[workload["sf"]]
    os.makedirs(WORK, exist_ok=True)
    os.makedirs(OUT, exist_ok=True)

    classpath, built = build()
    deadline = (time.monotonic() if built else started) + RUN_LIMIT_S
    out_file = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    record = run_driver(classpath, workload, spec, args, out_file, deadline)
    bad = check_outputs(record, expected)

    attempted = sum(len(p["queries"]) for p in record["passes"]) + len(record["check"])
    threw = sum(1 for p in record["passes"] for q in p["queries"] if q["error"])
    failed = threw + len(bad)
    e2e, counted, n_samples = end_to_end(record, spec["min_measured_passes"])
    record.update({"failed_checks": bad, "attempted": attempted, "failed": failed,
                   "failed_frac": failed / attempted, "counted_passes": counted,
                   "query_samples": n_samples, "end_to_end": e2e})
    with open(out_file, "w") as fh:
        json.dump(record, fh, indent=1)

    if args.trace:
        values, wanted = record["layers"], bench["per_layer"]
    else:
        values, wanted = e2e, bench["end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    steal = ",".join(f"{p['steal_frac']:.3f}" for p in record["passes"])
    print(f"workload={args.workload} seed={args.seed} master={record['master']} "
          f"nproc={record['nproc']} passes={len(record['passes'])} counted_passes={counted} "
          f"queries={len(workload['queries'])} query_samples={n_samples} "
          f"failed_frac={failed / attempted:.4f} setup_steal={record['setup']['steal_frac']:.3f} "
          f"steal_per_pass=[{steal}] record={os.path.relpath(out_file, ROOT)}")
    for name, why in sorted(bad.items()):
        print(f"FAIL {name}: {why}")
    print(json.dumps({"correct": not bad and threw == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
