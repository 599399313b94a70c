#!/usr/bin/env python3
"""End-to-end benchmark: deliver, serve and curate workloads.

Usage (from the repository root):
    python3 e2ebench/run.py --workload deliver|serve|curate --seed N \
        --seconds S --trace 0|1

Builds the program and the harness from source into .bench_build/e2ebench
(once per source hash), generates the workload's inputs from the seed, runs
one harness JVM, checks every output against expectations made without the
program, and prints one JSON result as the last line of stdout. A context
line (commit, seed, nproc, heap, Spark master and confs, CPU steal,
other-process CPU, loadavg) is printed just before it.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import math
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "e2ebench")
XMX = "3g"
E2E = {"setup_s": "s", "p50_ms": "ms", "tail_ms": "ms", "ops_per_s": "1/s"}
JVM_TIMEOUT_S = 170


def fail(msg, code=2):
    print(f"e2ebench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the installed pyspark package."""
    homes = [os.environ.get("SPARK_HOME", "")]
    try:
        import pyspark
        homes.append(os.path.dirname(pyspark.__file__))
    except ImportError:
        pass
    for h in homes:
        d = os.path.join(h, "jars")
        if h and glob.glob(os.path.join(d, "spark-core_*.jar")):
            return d
    fail("no Spark jars found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not main:
        fail("no program sources under src/main/scala")
    return main + sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))


def build(srcs, jars):
    """Compiles program + harness with scalac, once per source hash."""
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()[:16]
    out = os.path.join(BUILD, f"classes-{key}")
    if os.path.isdir(out):
        return out, key
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    log = os.path.join(BUILD, "compile.log")
    with open(log, "w") as lf:
        rc = subprocess.run(
            ["java", "-Xmx2g", "-Xss16m", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
             "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath",
             os.path.join(jars, "*"), "@" + argfile],
            stdout=lf, stderr=subprocess.STDOUT, timeout=800).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        fail("compile failed", 1)
    os.rename(tmp, out)
    return out, key


def curate_tables():
    """The fixed curate table and its oracle digests, made once per checkout."""
    with open(os.path.join(HERE, "oracles.json")) as f:
        oracles = json.load(f)
    h = hashlib.sha256(json.dumps(oracles, sort_keys=True).encode())
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        h.update(f.read())
    d = os.path.join(BUILD, f"curate-{h.hexdigest()[:16]}")
    exp_path = os.path.join(d, "expected.json")
    if not os.path.exists(exp_path):
        shutil.rmtree(d, ignore_errors=True)
        gen.curate_inputs(d)
        exp = checks.curate_expected(d, oracles)
        with open(exp_path + ".tmp", "w") as f:
            json.dump(exp, f)
        os.rename(exp_path + ".tmp", exp_path)
    with open(exp_path) as f:
        return d, json.load(f)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cls, jars, args, work):
    cp = os.pathsep.join([cls, os.path.join(jars, "*")])
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir, exist_ok=True)
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # no hsperfdata under /tmp: everything a run writes stays in the checkout
    cmd = ["java", f"-Xmx{XMX}", "-Xss16m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in opens:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "e2ebench.Harness"] + args + [work]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log, errors="replace") as lf:
            sys.stderr.write(lf.read()[-6000:])
        fail(f"harness exited with {rc}", 1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["deliver", "serve", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) are missing from this checkout")

    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    cls, build_key = build(sources(), jars)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    inp = os.path.join(work, "in", a.workload)
    os.makedirs(inp)
    if a.workload == "deliver":
        parts = gen.deliver_inputs(a.seed, inp)
    elif a.workload == "serve":
        gen.serve_inputs(a.seed, inp)
    else:
        tables, exp = curate_tables()
        shutil.copy(os.path.join(tables, "documents.parquet"), inp)
        with open(os.path.join(inp, "order.json"), "w") as f:
            json.dump(gen.curate_order(a.seed), f)

    load0 = loadavg()
    run_jvm(cls, jars, [a.workload, str(a.seed), str(a.seconds), str(a.trace), str(nproc)],
            work)
    load1 = loadavg()
    out = os.path.join(work, "out")
    with open(os.path.join(out, "result.json")) as f:
        res = json.load(f)

    e2e = dict(res["e2e"])
    if a.workload == "deliver":
        exp = gen.deliver_expected(parts, res["diag"]["cycles"])
        fails, lat = checks.check_deliver(exp, res["diag"]["log_path"],
                                          os.path.join(out, "alerts.jsonl"))
        e2e["p50_ms"] = checks.pct(lat, 0.5)
        e2e["tail_ms"] = checks.pct(lat, 0.99)
        n_checked = exp["attempts"]
    elif a.workload == "serve":
        with open(os.path.join(out, "responses.jsonl")) as f:
            responses = [json.loads(x) for x in f if x.strip()]
        fails = checks.check_serve(inp, responses)
        n_checked = len(responses)
    else:
        fails = checks.check_curate(os.path.join(out, "curate"), exp, gen.CURATE_QUERIES)
        n_checked = len(gen.CURATE_QUERIES)
    e2e["setup_s"] = res["setup_s"]

    for m in fails[:20]:
        print(f"CHECK FAILED {m}", file=sys.stderr)
    attempted = max(1, int(res["attempted"]))
    failed = min(attempted, int(res["failed"]) + len(fails))
    correct = not fails and res["failed"] == 0
    ctx = dict(res["context"])
    ctx.update({"commit": commit(), "source_hash": build_key, "seed": a.seed,
                "workload": a.workload, "seconds": a.seconds, "traced": bool(a.trace),
                "xmx": XMX, "loadavg_before": load0, "loadavg_after": load1,
                "checked_outputs": n_checked, "failed_checks": len(fails),
                "failed_share": failed / attempted,
                "session_s": res["session_s"],
                "diag": res["diag"]})
    e2e = {k: finite(v) for k, v in e2e.items()}
    if a.trace:
        # the traced run's own end-to-end figures, to set against untraced runs
        ctx["traced_e2e"] = e2e
        # every declared per-layer metric; one the workload does not exercise reads 0
        metrics = {k: {"value": finite(res["layers"].get(k)) or 0.0, "unit": u}
                   for k, u in layer_units().items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
        # a metric that could not be measured is a failed run, never a 0
        correct = correct and all(e2e[k] is not None for k in E2E)
        metrics = {k: {"value": m["value"] or 0.0, "unit": m["unit"]}
                   for k, m in metrics.items()}
    print(json.dumps({"context": ctx}, sort_keys=True))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    main()
