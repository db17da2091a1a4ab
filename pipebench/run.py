#!/usr/bin/env python3
"""Pipeline benchmark: dbt build and corpus curation.

    python3 pipebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout.  The first run builds the program and
the harness from source with sbt (pipebench/build.sbt); later runs reuse
the build until a source file changes.  Inputs come from the seed
(gen.py) and are made before the program starts, outside every timed
window.  The harness (pipebench.Main) runs the workload in one JVM on
`local[k]`, k = min(4, cores), and checks every unit's outputs; for
dag_build the marts are compared here with DuckDB (oracle.py).

Workloads (units are closed-loop, one client):
  dag_build            SqlDag.build over the reference's four SQL models
                       and their tests; one unit is one build.
  corpus_curate        clean + exact dedup, MinHash-LSH pairs, dedup
                       clusters, mixture, partitioned write; one pass.

With --trace 0 the last stdout line carries the end-to-end metrics, with
--trace 1 the per-layer ones (spans are written to .bench_build/traces).
The command exits nonzero when any unit fails its check.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ["dag_build", "corpus_curate"]
RUN_LIMIT_S = 170  # a run must end within 180 s once built
TAIL_LADDER = [0.99, 0.95, 0.9, 0.75, 0.5]
# A fixed heap and young generation under the throughput collector: young
# collections then come from allocation alone and old-generation
# compaction keeps the touched heap at what the work retained, so VmHWM
# repeats from run to run.
JVM_OPTS = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m"] + [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar"]]


def fail(msg, code=2):
    print(f"pipebench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
                os.path.join(HERE, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, fs in os.walk(top):
            yield from (os.path.join(d, f) for f in fs)


def build():
    """Compile with sbt unless the classpath file is newer than every
    source; returns the classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= max(
            os.path.getmtime(f) for f in sources()):
        return open(CLASSPATH).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "compile", "writeClasspath"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed, see {os.path.join(BUILD, 'build.log')}")
    return open(CLASSPATH).read().strip()


def nearest_rank(sorted_xs, p):
    return sorted_xs[max(0, math.ceil(p * len(sorted_xs) - 1e-9) - 1)]


def tail(xs):
    """(percentile, value): the highest ladder percentile with at least
    ten samples beyond it; the median when there are fewer than 20."""
    xs = sorted(xs)
    p = next((p for p in TAIL_LADDER if len(xs) * (1 - p) >= 10), None)
    return (0.5, statistics.median(xs)) if p is None else (p, nearest_rank(xs, p))


def low_median(xs):
    """The lower middle sample, an actual unit rather than a mean of two."""
    xs = sorted(xs)
    return xs[(len(xs) - 1) // 2]


def metric(v, unit):
    return {"value": v, "unit": unit}


def declared():
    """BENCHMARK.json's metric units: (end-to-end, per-layer)."""
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return ({m["name"]: m["unit"] for m in bench["end_to_end"]},
            {m["name"]: m["unit"] for m in bench["per_layer"]})


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this checkout")
    end_to_end, per_layer = declared()
    cp = build()
    began = time.time()

    sys.path.insert(0, HERE)
    import duckdb
    import gen
    import oracle
    data = os.path.join(BUILD, "inputs", f"{a.workload}-{a.seed}")
    gen.generate(a.workload, a.seed, data)

    cores = min(4, os.cpu_count() or 1)
    work = os.path.join(BUILD, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log_path = os.path.join(BUILD, f"jvm-{a.workload}.log")
    cmd = ["java"] + JVM_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "pipebench.Main",
                                 "--workload", a.workload, "--seconds", str(a.seconds),
                                 "--trace", str(a.trace), "--data", data, "--work", work,
                                 "--out", out, "--cores", str(cores)]
    # a SIGTERM unwinds through the finally below, so the JVM never
    # outlives this process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(log_path, "w") as log:
        jvm = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = jvm.wait(timeout=max(30, RUN_LIMIT_S - (time.time() - began)))
        except subprocess.TimeoutExpired:
            fail(f"the harness did not finish in time, see {log_path}")
        finally:
            if jvm.poll() is None:
                jvm.kill()
                jvm.wait()
    if rc != 0 or not os.path.exists(out):
        fail(f"the harness failed ({rc}), see {log_path}")
    res = json.load(open(out))
    os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
    shutil.copy(out, os.path.join(BUILD, "traces", f"{a.workload}-{a.seed}-trace{a.trace}.json"))

    for u in res["units"]:
        if u["check_dir"] and not u["problems"]:
            try:
                u["problems"] = oracle.check(data, u["check_dir"])
            except duckdb.Error as e:
                u["problems"] = [f"DuckDB check failed: {e}"]
    shutil.rmtree(work, ignore_errors=True)

    units = res["units"]
    failed = [u for u in units if u["problems"]]
    for u in failed:
        print(f"unit {u['id']} ({u['kind']}) failed: " + "; ".join(u["problems"]), file=sys.stderr)
    measured = [u for u in units if u["kind"] != "warmup"]
    plain = [u["seconds"] for u in measured if u["kind"] == "plain"]
    print(f"{a.workload} seed {a.seed}: {len(measured)} units measured after "
          f"{len(units) - len(measured)} warm-up units, {res['input_rows']} input rows per unit, "
          f"local[{res['cores']}]")
    collided = json.load(open(os.path.join(data, "expected.json"))).get("fingerprint_collisions")
    if collided:
        print(f"  {collided} distinct texts share a 30-bit content fingerprint with an earlier "
              "one; exact dedup keeps one document per fingerprint, as expected.json does")
    if a.trace == 0:
        p50 = statistics.median(plain)
        p, tail_v = tail(plain)
        values = {"setup_s": res["setup_s"],
                  "rows_per_s": res["input_rows"] / p50, "unit_s_p50": p50,
                  "unit_s_tail": tail_v,
                  "unit_cpu_s": statistics.median(u["cpu_s"] for u in measured),
                  "peak_rss_mb": res["peak_rss_mb"],
                  "error_rate": len(failed) / len(units)}
        notes = {"setup_s": ("s", f"process start to the end of {len(units) - len(measured)} warm-up units"),
                 "rows_per_s": ("rows/s", "input rows per unit / unit_s_p50"),
                 "unit_s_p50": ("s", f"median of {len(plain)} units"),
                 "unit_s_tail": ("s", f"p{round(p * 100)} of {len(plain)} units"),
                 "unit_cpu_s": ("s", "median process CPU time per unit"),
                 "peak_rss_mb": ("MB", "VmHWM of the harness process"),
                 "error_rate": ("ratio", f"{len(failed)} of {len(units)} units failed")}
        for k, v in values.items():
            print(f"  {k:<14} {v:>14.4f} {notes[k][0]:<7} {notes[k][1]}")
        metrics = {k: metric(values[k], u) for k, u in end_to_end.items()}
    else:
        # counters repeat exactly from unit to unit; self times come from
        # the median traced unit, so they sum to its wall time
        traced = [u for u in measured if u["kind"] == "traced"]
        mid = low_median(u["seconds"] for u in traced)
        unit = next(u for u in traced if u["seconds"] == mid)
        values = {k: low_median(u["layers"][k] for u in traced) for k in unit["layers"]}
        values.update({k: v for k, v in unit["layers"].items()
                       if k.startswith("self.") or k == "trace.unit_s"})
        untraced = low_median(plain)
        values["trace.untraced_unit_s"] = untraced
        values["trace.overhead_s"] = values["trace.unit_s"] - untraced
        values["trace.overhead_pct"] = 100 * values["trace.overhead_s"] / untraced
        selfs = {k: v for k, v in sorted(values.items()) if k.startswith("self.")}
        print(f"  self time of the median traced unit {unit['id']} ({values['trace.unit_s']:.4f} s): "
              + ", ".join(f"{k[5:-2]} {v:.4f}" for k, v in selfs.items())
              + f"; sum {sum(selfs.values()):.4f} s")
        print(f"  tracing overhead: traced {mid:.4f} s vs untraced {untraced:.4f} s per unit "
              f"({len(traced)} traced, {len(plain)} untraced units)")
        for k in sorted(values):
            print(f"  {k:<28} {values[k]:>18.6f} {per_layer.get(k, '')}")
        metrics = {k: metric(values[k], u) for k, u in per_layer.items()}
    print(json.dumps({"correct": not failed, "attempted": len(units), "failed": len(failed),
                      "metrics": metrics}))
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
