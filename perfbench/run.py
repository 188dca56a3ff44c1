"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload archive|curate --seed N \\
        --seconds S --trace 0|1

From the root of a checkout. The first run builds the program and the
benchmark's runner from source with sbt (perfbench/build.sbt) into
.bench_build/; later runs reuse that build while the sources are
unchanged. Each run then generates its inputs from the seed (gen.py),
runs the workload in one JVM (perfbench.Main), checks every operation's
output apart from the program (check.py) and prints, as its last line,
one JSON object: correct, attempted, failed and the metrics (the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1).
The line before it is run context: nproc, load average before and after,
the JVM's CPU seconds and the input properties.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("archive", "curate")
HEAP = "3g"
# the JVM may run this long beyond the window: start, three set-ups, the
# warm-up and the round in progress when the window ends
JVM_MARGIN_S = 145
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
SBT_OPTS = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true"]
SBT_REPOS = os.path.expanduser("~/.sbt/repositories")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src", "main", "scala")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(files)


def spark_jars():
    """The Spark jars the program's own build compiles against (the root
    build.sbt's `unmanagedBase`), else SPARK_HOME's."""
    candidates = []
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if m:
            candidates.append(m.group(1))
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for jars in candidates:
        if os.path.isdir(jars):
            return jars
    fail("Spark jars not found (root build.sbt unmanagedBase or SPARK_HOME)")


def build():
    """Compile program + runner once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found; run from a checkout root")
    h = hashlib.sha256()
    for f in source_files():
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    opts = SBT_OPTS + [f"-Dperfbench.spark.jars={spark_jars()}"]
    if os.path.exists(SBT_REPOS):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={SBT_REPOS}"]
    # sbt's own scratch (sockets, file-watcher and JNA temp files) goes
    # under .bench_build too
    tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm = ["-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}",
           "-Dsbt.server.autostart=false"]
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([os.environ.get("SBT_OPTS", ""), *jvm]).strip())
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        p = subprocess.run(["sbt", "--batch", *opts, "compile", "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=800)
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        fail(f"build failed (see {os.path.join(BUILD, 'build.log')})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, work, seconds, trace_on, cores):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dderby.system.home=" + tmp]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--work", work,
            "--seconds", str(seconds), "--trace", "1" if trace_on else "0",
            "--cores", str(cores)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        timeout = JVM_MARGIN_S + seconds
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"workload JVM exceeded {timeout:g} s (see {work}/jvm.log)")
    if rc != 0:
        fail(f"workload JVM exited {rc} (see {work}/jvm.log)")


def end_to_end(result):
    """setup_s, op_gmean_ms and round_s.

    op_gmean_ms is the geometric mean of the round's operation latencies
    (as TPC-H's power metric summarizes its queries and refreshes): every
    operation class weighs the same in relative terms, whatever its size.
    Both it and round_s (the sum of a round's operation walls) take every
    operation, failed ones included, so which operations they cover does
    not depend on correctness; failures count in `failed`.
    """
    walls = [o["wall_ms"] for o in result["ops"]]
    rounds = {}
    for o in result["ops"]:
        rounds[o["round"]] = rounds.get(o["round"], 0.0) + o["wall_ms"] / 1e3
    return {
        "setup_s": {"value": trace.median(result["setup_s"]), "unit": "s"},
        "op_gmean_ms": {"value": trace.gmean(walls), "unit": "ms"},
        "round_s": {"value": trace.median(list(rounds.values())), "unit": "s"},
    }


def main():
    ap = argparse.ArgumentParser(description="run one benchmark workload")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    inputs = gen.generate(a.workload, a.seed, os.path.join(work, "inputs"), a.seconds)
    gen_s = time.time() - t0
    cores = nproc()
    load_before = loadavg()
    run_jvm(cp, a.workload, work, a.seconds, a.trace == 1, cores)
    load_after = loadavg()
    with open(os.path.join(work, "result.json")) as f:
        result = json.load(f)

    verdict = check.check(a.workload, work, result)
    e2e = end_to_end(result)
    if a.trace:
        with open(os.path.join(work, "spans.jsonl")) as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
        metrics = trace.reduce_trace(result, spans)
        with open(os.path.join(work, "trace_report.json"), "w") as f:
            json.dump(trace.op_report(result, spans), f, indent=1)
    else:
        metrics = e2e

    lat = [o["wall_ms"] for o in result["ops"]]
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "nproc": cores, "loadavg_before": load_before,
        "loadavg_after": load_after, "jvm_cpu_s": result.get("jvm_cpu_s"),
        "rounds": result.get("rounds"), "input_gen_s": round(gen_s, 3),
        "op_ms": trace.percentiles(lat) if lat else None,
        # with --trace 1, these against an untraced run give the overhead
        "end_to_end": {k: v["value"] for k, v in e2e.items()},
        "inputs": inputs, "problems": verdict["problems"][:20],
    }
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": len(result["ops"]),
        "failed": len(verdict["failed"]),
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
