#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the repository root. Builds graft and the benchmark from source
with sbt on first use, generates the workload's inputs from the seed,
runs the workload in one JVM on a GraftSession sized to the machine,
checks every output against a computation made apart from graft, and
prints one JSON object as the last line of standard output.

Workloads: gate-sweep, monthly-etl, curate-10x (see README.md).
With --trace 1 the printed metrics are the per-layer ones, and the full
traced report (with the per-gate profile) is kept in perfbench/out/.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("gate-sweep", "monthly-etl", "curate-10x")
GATE_DATA = os.path.join(HERE, "data", "sf0.01")
DOCS_BASE = os.path.join(GATE_DATA, "documents.parquet")
GATES = 130
# nominal seconds of one round: --seconds / this = the rounds a run makes
ROUND_SECONDS = {"gate-sweep": None, "monthly-etl": 0.6, "curate-10x": 4.0}
BUILD = os.path.join(HERE, ".build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")

END_TO_END = ["setup_s", "run_s", "op_p50_s", "op_p90_s", "rate_per_s", "peak_rss_mb"]
UNITS = {"setup_s": "s", "run_s": "s", "op_p50_s": "s", "op_p90_s": "s",
         "rate_per_s": "1/s", "peak_rss_mb": "MB"}

JDK17_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
               "java.net", "java.nio", "java.util", "java.util.concurrent",
               "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
               "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_newer_than(stamp):
    t = os.path.getmtime(stamp)
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        for d, _, files in os.walk(top) if os.path.isdir(top) else [("", [], [top])]:
            if any(os.path.getmtime(os.path.join(d, f)) > t for f in files):
                return True
    return False


def build():
    """Compiles graft and the benchmark with sbt; records the classpath."""
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())


_last = [time.time()]


def phase(name):
    """Logs how long the phase that just ended took."""
    now = time.time()
    print(f"perfbench: {name} {now - _last[0]:.1f} s", file=sys.stderr)
    _last[0] = now


def heap_flags():
    """A fixed-size heap of a quarter of the machine's memory (2 to 8 GB),
    with a fixed young generation: the resident high-water mark then
    follows the work done, not the collector's resizing decisions."""
    kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
    mb = 1024 * max(2, min(8, kb // (4 * 1024 * 1024)))
    return [f"-Xms{mb}m", f"-Xmx{mb}m", f"-Xmn{mb // 3}m"]


def rounds(a):
    """Whole rounds a run makes: a function of --seconds alone, so every
    run with the same --seconds does the same operations."""
    nominal = ROUND_SECONDS[a.workload]
    return 1 if nominal is None else max(1, round(a.seconds / nominal))


def nearest_rank(v, p):
    s = sorted(v)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 GATE_DATA, DOCS_BASE):
        if not os.path.exists(need):
            fail(f"missing {os.path.relpath(need, ROOT)}: run from a graft checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    build()

    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    # let the previous run's deletions reach the disk before any timing
    os.sync()
    t0 = _last[0] = time.time()
    os.makedirs(os.path.join(work, "tmp"))
    import inputs
    ledger = corpus = None
    if a.workload == "monthly-etl":
        ledger = inputs.make_orders(a.seed, os.path.join(work, "etl"))
        with open(os.path.join(work, "etl", "ledger.json"), "w") as f:
            json.dump(ledger, f)
        inputs.make_orders(f"warm-{a.seed}", os.path.join(work, "etl", "warm"),
                           inputs.WARM_ORDERS, inputs.WARM_MONTHS, inputs.WARM_MONTHS[1])
    elif a.workload == "curate-10x":
        os.makedirs(os.path.join(work, "curate"))
        corpus = inputs.make_corpus(a.seed, DOCS_BASE,
                                    os.path.join(work, "curate", "corpus.parquet"))

    cpus = len(os.sched_getaffinity(0))
    report_path = os.path.join(work, "report.json")
    cmd = (["java"] + [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + heap_flags() + ["-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", open(CLASSPATH).read().strip(), "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--trace", str(a.trace), "--rounds", str(rounds(a)), "--data", GATE_DATA, "--work", work,
              "--report", report_path, "--t0-ms", str(int(t0 * 1000)), "--gates", str(GATES)])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), GRAFT_REPO_ROOT=ROOT,
               SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    env.pop("SPARK_MASTER", None)
    phase("inputs")
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            p = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                               timeout=160)
        except subprocess.TimeoutExpired:
            fail("benchmark JVM did not finish within 160 s")
    phase("jvm")
    if p.returncode != 0 or not os.path.exists(report_path):
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-4000:])
        fail(f"benchmark JVM exited with {p.returncode}")
    rep = json.load(open(report_path))

    import checks
    ops = rep["ops"]
    ok_ops = [o for o in ops if o["ok"]]
    if a.workload == "gate-sweep":
        bad = checks.check_gates(GATE_DATA, os.path.join(work, "results"),
                                 [o["name"] for o in ok_ops])
        main_ops = [o["seconds"] for o in ok_ops]
        run_s = sum(main_ops)
        rate = len(main_ops) / run_s
    elif a.workload == "monthly-etl":
        bad = checks.check_etl(ledger, rep)
        main_ops = [o["seconds"] for o in ok_ops if o["name"].startswith("load_")]
        backfills = [o["seconds"] for o in ok_ops if o["name"].startswith("backfill_")]
        run_s = statistics.median(l + b for l, b in zip(main_ops, backfills))
        rate = ledger["input_orders"] / statistics.median(main_ops)
    else:
        bad = checks.check_curate(os.path.join(work, "curate", "corpus.parquet"),
                                  corpus["stride"], os.path.join(work, "curate", "exact_ids"), rep)
        main_ops = [o["seconds"] for o in ok_ops]
        run_s = statistics.median(main_ops)
        rate = corpus["docs"] / run_s
    phase("checks")
    for b in bad:
        print(f"perfbench: CHECK FAILED: {b}", file=sys.stderr)

    values = {"setup_s": rep["setup_s"], "run_s": run_s,
              "op_p50_s": nearest_rank(main_ops, 0.5), "op_p90_s": nearest_rank(main_ops, 0.9),
              "rate_per_s": rate, "peak_rss_mb": rep["peak_rss_mb"]}
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    if a.trace:
        import layers
        metrics = {k: {"value": float(rep.get(k, 0.0)), "unit": u}
                   for k, u in layers.PER_LAYER.items()}
        metrics["trace.run_s"]["value"] = run_s
        keep = {"workload": a.workload, "seed": a.seed, "metrics": metrics,
                "gate_profile": rep.get("gate_profile", [])}
        name = f"trace-{a.workload}-seed{a.seed}.json"
    else:
        metrics = {k: {"value": values[k], "unit": UNITS[k]} for k in END_TO_END}
        keep = {"workload": a.workload, "seed": a.seed, "metrics": metrics}
        name = f"run-{a.workload}-seed{a.seed}.json"
    with open(os.path.join(HERE, "out", name), "w") as f:
        json.dump(keep, f, indent=1)
    print(json.dumps({"correct": not bad, "attempted": len(ops),
                      "failed": len(ops) - len(ok_ops), "metrics": metrics}))
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
