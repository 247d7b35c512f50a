#!/usr/bin/env python3
"""graft benchmark: one workload, one JVM, one client in a closed loop.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness from source (sbt, offline) into perfbench/harness/target; later
runs reuse the build while the sources are unchanged. Each run then:

1. derives the op plan from --workload, --seed and --seconds (plan.py);
2. starts one JVM (graftbench.Main) that builds a session with
   graft.Engine.session, registers the tables, runs the fixed warm-up
   rounds (charged to setup_s) and the fixed measured rounds, and writes
   every op's output once for checking;
3. checks the outputs (checks.py) and computes the metrics (stats.py);
4. prints a report on stderr and, as the last stdout line, one JSON object
   with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
   metrics with --trace 0, the per-layer metrics with --trace 1.

Everything a run leaves behind is under .bench_build/perfbench/; the last
artifact of each (workload, seed, trace) is kept in its runs/ directory.
See README.md for the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import plan as planmod  # noqa: E402
import stats  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
DEFAULT_DATA = "/root/testdata/sf0.1"  # the sf0.1 fixture, as TESTDATA.md gives it
RUN_LIMIT_S = 170        # a run must end within 180 s once built
BUILD_LIMIT_S = 850      # the first run in a checkout may take 900 s
JVM_HEAP = "3g"
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
             os.path.join(HARNESS, "build.sbt"), os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """The harness classpath, building first if the sources changed."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala/graft; run from a full checkout")
    digest = source_digest()
    cp_file, stamp = os.path.join(OUT, "classpath.txt"), os.path.join(OUT, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building engine and harness (sbt) ...", file=sys.stderr)
    t0 = time.time()
    try:
        res = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_LIMIT_S} s")
    lines = [l for l in res.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if res.returncode != 0 or not lines:
        fail("build failed:\n" + (res.stdout + res.stderr)[-3000:])
    os.makedirs(OUT, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return lines[-1].strip()


def keyed_lineitem(data_dir):
    """The keyed lineitem copy mor_dml needs, cached per source file."""
    src = os.path.join(data_dir, "lineitem.parquet")
    st = os.stat(src)
    key = f"{os.path.abspath(src)}:{st.st_size}:{st.st_mtime_ns}"
    dest = os.path.join(OUT, f"lineitem_keyed-{hashlib.sha256(key.encode()).hexdigest()[:16]}")
    if not os.path.exists(dest):
        checks.write_keyed_lineitem(data_dir, dest)
    return dest


def run_jvm(cp, plan_path, artifact, check_dir, work, deadline):
    log = os.path.join(work, "jvm.log")
    # -UsePerfData: no /tmp/hsperfdata file; a fixed set of JIT compiler
    # threads keeps their CPU (jvm.jit_cpu_s) in /proc/self/task all run long
    cmd = ["java", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Dspark.local.dir={work}/spark-local", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}",
            "-cp", cp, "graftbench.Main", plan_path, artifact, check_dir]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(log, "w") as lf:
        env = dict(os.environ, SPARK_LOCAL_DIRS=f"{work}/spark-local")
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the benchmark JVM did not finish in time; log: {log}", 1)
    if code != 0 or not os.path.exists(artifact):
        with open(log) as lf:
            tail = lf.read()[-3000:]
        fail(f"the benchmark JVM failed (exit {code}):\n{tail}", 1)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=planmod.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="nominal measured time; fixes the number of measured rounds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DEFAULT_DATA, help="directory of the sf parquet tables")
    a = ap.parse_args()

    start = time.time()
    load0 = loadavg()
    if not os.path.isdir(a.data):
        fail(f"data directory {a.data} not found")
    cp = build()
    deadline = time.time() + RUN_LIMIT_S - 25  # leaves time for the checks

    work = os.path.join(OUT, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    check_dir = os.path.join(work, "check")
    os.makedirs(check_dir)
    plan = planmod.make_plan(a.workload, a.seed, a.seconds)
    settings = {"workload": a.workload, "data": os.path.abspath(a.data), "work": work,
                "trace": a.trace}
    if a.workload == "mor_dml":
        settings["keyed"] = keyed_lineitem(a.data)
    plan_path = os.path.join(work, "plan.tsv")
    with open(plan_path, "w") as f:
        f.write(planmod.plan_text(plan, settings))
    artifact = os.path.join(work, "artifact.json")
    run_jvm(cp, plan_path, artifact, check_dir, work, deadline)
    with open(artifact) as f:
        art = json.load(f)

    meas = [o for o in art["ops"] if o["phase"] == "meas"]
    try:
        if "error" in art["check"]:
            bad = {"*": art["check"]["error"]}
        elif a.workload == "mor_dml":
            bad = checks.check_mor(check_dir, settings["keyed"], plan)
        else:
            bad = checks.check_registry(ROOT, check_dir, a.data, art["check"]["oracles"],
                                        {o["name"] for o in meas})
    except Exception as e:  # an unreadable output fails the run's check, not the run
        bad = {"*": f"{type(e).__name__}: {e}"}
    errors = {o["name"]: o["error"] for o in meas if o["error"]}
    failed = sum(1 for o in meas if o["error"] or o["name"] in bad or "*" in bad)

    e2e, tails = stats.end_to_end(art)
    layer = stats.per_layer(art) if a.trace else {}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "attempted": len(meas), "failed": failed, "check_failures": bad, "op_errors": errors,
        "end_to_end": e2e, "tails": tails, "per_layer": layer,
        "rounds": art["rounds"], "window": art["window"],
        "loadavg_before": load0, "loadavg_after": loadavg(),
        "wall_s": time.time() - start,
    }
    runs = os.path.join(OUT, "runs")
    os.makedirs(runs, exist_ok=True)
    kept = os.path.join(runs, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(kept, "w") as f:
        json.dump({"report": report, "plan": plan, "artifact": art}, f)
    print_report(report, kept)

    units = dict(stats.PER_LAYER if a.trace else stats.E2E)
    values = layer if a.trace else e2e
    print(json.dumps({
        "correct": not bad and not errors, "attempted": len(meas), "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))


def print_report(r, kept):
    p = lambda *x: print(*x, file=sys.stderr)
    p(f"== perfbench {r['workload']} seed={r['seed']} trace={r['trace']}: "
      f"{r['attempted']} ops attempted, {r['failed']} failed")
    for name, unit in stats.E2E + stats.E2E_REPORTED:
        if name in r["end_to_end"]:
            extra = ""
            if name in r["tails"]:
                pct, beyond, n = r["tails"][name]
                extra = f"  (p{pct:.1f}, {beyond} samples beyond, n={n})"
            p(f"  {name:<22} {r['end_to_end'][name]:>12.4f} {unit}{extra}")
    for name, unit in stats.PER_LAYER:
        if name in r["per_layer"]:
            p(f"  {name:<34} {r['per_layer'][name]:>14.4f} {unit}")
    for ph in ("warm", "meas"):
        rs = [x for x in r["rounds"] if x["phase"] == ph]
        lane = lambda x: "" if r["trace"] == 0 else x["lane"]
        p(f"  {ph} round walls s: " + " ".join(f"{x['wall_s']:.2f}{lane(x)}" for x in rs)
          + "   compiles: " + " ".join(str(x["compiles"]) for x in rs))
    p(f"  load avg before {r['loadavg_before']} after {r['loadavg_after']}; "
      f"cpu steal over window {r['window']['steal_frac']:.4f}")
    for k, v in list(r["check_failures"].items()) + list(r["op_errors"].items()):
        p(f"  FAIL {k}: {v}")
    p(f"  artifact: {kept}")


if __name__ == "__main__":
    main()
