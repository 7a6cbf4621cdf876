"""Repository benchmark: copy, curate and lake workloads at local[nproc].

    python3 perfbench/run.py --workload copy|curate|lake --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest     # the output checks' own tests

Run from the repository root. Builds the program from source (see
build.py), then runs one workload in one JVM and prints, as the last line
of stdout, one JSON object with `correct`, `attempted`, `failed` and
`metrics` (end-to-end metrics with --trace 0, per-layer metrics with
--trace 1). The line before it carries diagnostics that are not gated: the
host CPU probe before and after the run, and each tail's percentile and
sample count. The full report, and with --trace 1 the span dump, go to
.bench_build/perfbench/reports/. See perfbench/METRICS.md.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("copy", "curate", "lake")
# input generation is repeated and its median reported (setup_s)
SETUP_REPS = 3
JVM_TIMEOUT_S = 165
# a fixed heap (initial = maximum): the collector's heap sizing, which
# follows GC times, stays out of the timings
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sf_dir():
    """The sf0.1 test corpus (read-only input of every workload)."""
    d = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(os.path.join("~", "testdata", "sf0.1"))
    need = ("orders", "lineitem", "documents", "embeddings", "events")
    if not all(os.path.isfile(os.path.join(d, t + ".parquet")) for t in need):
        raise SystemExit(f"perfbench: sf0.1 corpus not found at {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def cpu_probe_ms():
    """Fixed single-thread CPU work, median of 3: a host-contention sentinel."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(500_000):
            acc = (acc + i * i) % 1_000_003
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def run_jvm(classpath, main_args, work, cds=None):
    """Runs one benchmark JVM. `cds` names a class-data sharing archive of
    the Spark classes a workload loads: the first run in a checkout writes
    it at exit, later runs map it instead of loading those classes again.
    It only shortens JVM start-up."""
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp)
    cds_flags, dumped = [], None
    if cds and os.path.isfile(cds):
        cds_flags = [f"-XX:SharedArchiveFile={cds}"]
    elif cds:
        dumped = f"{cds}.{os.getpid()}"
        cds_flags = [f"-XX:ArchiveClassesAtExit={dumped}"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:ReservedCodeCacheSize=512m", *cds_flags,
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           f"-Dderby.stream.error.file={os.path.join(tmp, 'derby.log')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classpath)] + main_args
    t0 = time.perf_counter()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        sys.stderr.write(f"perfbench: JVM ran {time.perf_counter() - t0:.2f} s\n")
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"perfbench: workload exceeded {JVM_TIMEOUT_S} s")
    if dumped and os.path.isfile(dumped):
        os.replace(dumped, cds)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: workload JVM exited with {proc.returncode}")
    marked = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if not marked:
        raise SystemExit("perfbench: workload printed no result")
    return json.loads(marked[-1][len("PERFBENCH_RESULT "):])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    root = os.getcwd()
    classpath = build.ensure_built(root)
    data = sf_dir()
    reports = os.path.join(root, ".bench_build", "perfbench", "reports")
    os.makedirs(reports, exist_ok=True)
    work = os.path.join(root, ".bench_build", "perfbench", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        if a.selftest:
            res = run_jvm(classpath, ["perfbench.SelfTest", data, work], work)
            print(json.dumps(res))
            sys.exit(0 if res.get("passed") else 1)
        tag = f"{a.workload}-s{a.seed}-t{a.trace}"
        probe_before = cpu_probe_ms()
        inputs = os.path.join(work, "inputs")
        gen_s = []
        for _ in range(SETUP_REPS):
            shutil.rmtree(inputs, ignore_errors=True)
            t = time.perf_counter()
            gen.generate(a.workload, data, inputs, a.seed)
            gen_s.append(time.perf_counter() - t)
        res = run_jvm(classpath, [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--sf", data, "--inputs", inputs, "--generate-s", repr(statistics.median(gen_s)),
            "--work", work,
            "--spans", os.path.join(reports, tag + ".spans.json")], work,
            cds=f"{classpath[0]}.{a.workload}.jsa")
        probe_after = cpu_probe_ms()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    diag = res.pop("diagnostics", {})
    diag["cpu_probe_ms"] = {"before": round(probe_before, 3), "after": round(probe_after, 3)}
    with open(os.path.join(reports, tag + ".json"), "w") as f:
        json.dump({"result": res, "diagnostics": diag}, f, indent=1, sort_keys=True)
    print(json.dumps({"diagnostics": diag}, sort_keys=True))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
