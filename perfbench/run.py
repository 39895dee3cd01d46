"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --steadiness [--runs 10] [--workload <name> ...]

Run from the repository root. The first run builds the program and the
benchmark from source into `.bench_build/perfbench/` and generates the
seeded month there; later runs reuse both. The last line of standard
output is the result JSON; the line before it holds every metric the
workload measured, with its unit, plus the checks and host facts.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
from build import BUILD, ROOT, log  # noqa: E402

JAVA_HEAP = "3g"
# a run must end within DEADLINE_S of its start, build time aside; the
# JVM gets what is left after generation, less CHECKS_S for the checks
DEADLINE_S = 180
CHECKS_S = 10
# the module opens spark-submit passes on JDK 17 (Kryo, ML, NIO need them)
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def bench_config():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def month(seed):
    """The seeded inputs, generated once per (seed, generator version)."""
    d = os.path.join(BUILD, "data", "seed%d-v%d" % (seed, gen.GEN_VERSION))
    if not os.path.exists(os.path.join(d, "meta.json")):
        tmp = d + ".tmp%d" % os.getpid()
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def jvm(classes, workload, data, out, seconds, trace, timeout):
    """Runs the benchmark JVM; returns its result.json, or a failed
    result when the JVM timed out or wrote none."""
    work = os.path.join(BUILD, "work", "%s-%d" % (workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = ":".join([classes] + build.spark_jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", "-cp", cp] + opens +
           ["-Xmx" + JAVA_HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "perfbench.Main", "--workload", workload, "--data", data, "--work", work,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace)])
    os.makedirs(out, exist_ok=True)
    r = None
    try:
        with open(os.path.join(out, "jvm.log"), "w") as logf:
            # on a timeout, run() kills the JVM and waits for it
            r = subprocess.run(cmd, stdout=sys.stderr, stderr=logf, timeout=timeout, cwd=ROOT)
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
    except subprocess.TimeoutExpired:
        return failed_result("JVM timed out after %.0f s" % timeout)
    except (OSError, ValueError) as e:
        return failed_result("JVM wrote no result (exit %s): %s"
                             % (getattr(r, "returncode", None), e))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if r.returncode != 0:
        res["failed"] = res.get("failed", 0) + 1
        res["errors"].append("JVM exit %d" % r.returncode)
    return res


def failed_result(error):
    log(error)
    return {"attempted": 1, "failed": 1, "checks": {}, "errors": [error], "host": {},
            "metrics": {}, "layers": {}}


def run_once(workload, seed, seconds, trace):
    cfg = bench_config()
    if workload not in [w["name"] for w in cfg["workloads"]]:
        raise SystemExit("perfbench: unknown workload %r" % workload)
    classes = build.build()
    start = time.monotonic()
    data = month(seed)
    out = os.path.join(BUILD, "runs", "%s-seed%d-trace%d" % (workload, seed, trace))
    shutil.rmtree(out, ignore_errors=True)
    timeout = DEADLINE_S - CHECKS_S - (time.monotonic() - start)
    res = jvm(classes, workload, data, out, seconds, trace, timeout)
    detail = dict(res["metrics"])
    ext = []
    if os.path.isdir(os.path.join(out, "outputs")):
        try:
            ext = checks.run(workload, data, os.path.join(out, "outputs"))
        except Exception as e:  # a crashed check is a failed check
            ext = [("duckdb_checks", False, repr(e))]
    attempted = res["attempted"] + len(ext)
    failed = res["failed"] + sum(1 for _, ok, _ in ext if not ok)
    names = [m["name"] for m in cfg["end_to_end" if not trace else "per_layer"]]
    source = detail if not trace else res["layers"]
    metrics = {n: source[n] for n in names if n in source}
    missing = [n for n in names if n not in source]
    if missing:
        failed += 1
        res["errors"].append("missing metrics: %s" % ", ".join(missing))
    print(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                      "host": dict(res["host"], mem_total_mb=mem_total_mb()),
                      "checks": dict(res["checks"], **{n: ok for n, ok, _ in ext}),
                      "check_detail": {n: d for n, _, d in ext},
                      "errors": res["errors"], "metrics": detail,
                      "layers": res["layers"]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def steadiness(workloads, runs, seconds):
    """Two sets of runs on one commit: per workload and metric, the
    quartiles of each set, its spread against the bound, and whether the
    second median stays within the bound of the first."""
    cfg = bench_config()
    ok = True
    for w in workloads:
        sets = []
        for s in range(2):
            vals = {}
            for i in range(runs):
                seed = 1000 * (s + 1) + i
                p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                    "--seed", str(seed), "--seconds", str(seconds),
                                    "--trace", "0"], capture_output=True, text=True, cwd=ROOT)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if lines else {"correct": False, "metrics": {}}
                host = json.loads(lines[-2])["host"] if len(lines) > 1 else {}
                if not res["correct"] or p.returncode != 0:
                    ok = False
                    log("%s seed %d: not correct" % (w, seed))
                for k, v in res["metrics"].items():
                    vals.setdefault(k, []).append(v["value"])
            sets.append(vals)
        for m in cfg["end_to_end"]:
            n, bound = m["name"], m["bound"]
            a, b = sets[0].get(n, []), sets[1].get(n, [])
            if len(a) < 2 or len(b) < 2:
                ok = False
                print(json.dumps({"workload": w, "metric": n, "error": "too few values"}))
                continue
            qa, qb = spread(a), spread(b)
            worse = (qb[1] - qa[1]) / qa[1] if m["better"] == "lower" else (qa[1] - qb[1]) / qa[1]
            # setup_s is one cold set-up per run, so its spread follows the
            # host's speed from run to run; like the benchmark contract,
            # gate only its median, and report its spread
            steady = n == "setup_s" or (qa[3] <= bound and qb[3] <= bound)
            agree = worse <= bound
            ok &= steady and agree
            print(json.dumps({"workload": w, "metric": n, "unit": m["unit"], "bound": bound,
                              "set1": {"q1": qa[0], "median": qa[1], "q3": qa[2],
                                       "spread": qa[3], "values": a},
                              "set2": {"q1": qb[0], "median": qb[1], "q3": qb[2],
                                       "spread": qb[3], "values": b},
                              "second_worse_by": worse, "steady": steady, "agree": agree,
                              "host": host}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--runs", type=int, default=10)
    a = ap.parse_args()
    cfg = bench_config()
    seconds = a.seconds if a.seconds is not None else cfg["run_seconds"]
    if a.steadiness:
        ws = a.workload or [w["name"] for w in cfg["workloads"]]
        return steadiness(ws, a.runs, seconds)
    if not a.workload or len(a.workload) != 1:
        raise SystemExit("perfbench: give exactly one --workload")
    t0 = time.time()
    run_once(a.workload[0], a.seed, seconds, a.trace)
    log("done in %.1f s" % (time.time() - t0))
    return 0


if __name__ == "__main__":
    sys.exit(main())
