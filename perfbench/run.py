"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from source on first use (build.py), then
runs the workload in one JVM and prints its result as the last line of
stdout: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the per-layer ones from
a traced run. Every run also writes a full report (all metrics, self time
per layer, failures) to <build>/reports/<workload>-s<seed>-t<trace>.json;
a traced run adds its spans, and the tracing overhead per end-to-end
metric when the untraced report of the same workload and seed exists.

Workloads: catalog-read, catalog-commit, spark-dml, query-battery, and
spark (spark-dml and query-battery in one session); perfbench/workloads.json
describes each. --smoke runs a tiny size.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("catalog-read", "catalog-commit", "spark-dml", "query-battery", "spark")
# a run must end within 180 s
TIMEOUT_S = 170

# Spark on JDK 17 needs the module openings spark-submit would add
# (same list as the sbt build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes, for tests")
    return p.parse_args()


def java_cmd(classes, a, work, tmp, report):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", "-Xmx2g", "-Xss4m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *opens, "-cp", f"{classes}{os.pathsep}{build.classpath()}",
           "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--work", str(work), "--report", str(report)]
    return cmd + (["--smoke"] if a.smoke else [])


def add_overhead(report, untraced):
    """Tracing overhead: traced value minus untraced value, same seed."""
    if not (report.is_file() and untraced.is_file()):
        return
    t = json.loads(report.read_text())
    u = json.loads(untraced.read_text())
    t["tracing_overhead"] = {
        k: {"value": v["value"] - u["end_to_end"][k]["value"], "unit": v["unit"]}
        for k, v in t["end_to_end"].items() if k in u["end_to_end"]}
    report.write_text(json.dumps(t, indent=1) + "\n")


def main():
    a = parse()
    # a SIGTERM unwinds as an exception, so the compiler or JVM this
    # process started is killed and waited for on every way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    out = build.build_dir()
    work = out / "work" / f"{a.workload}-{os.getpid()}"
    tmp = out / "tmp" / str(os.getpid())
    reports = out / "reports"
    tag = f"{a.workload}-s{a.seed}" + ("-smoke" if a.smoke else "")
    report = reports / f"{tag}-t{a.trace}.json"
    for d in (work, tmp, reports):
        d.mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(java_cmd(classes, a, work, tmp, report),
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            cwd=str(work))
    try:
        stdout, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {TIMEOUT_S} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        print(f"[perfbench] workload exited with code {proc.returncode}", file=sys.stderr)
        return 4
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"[perfbench] malformed result: {lines[-1]}", file=sys.stderr)
        return 5
    if a.trace:
        add_overhead(report, reports / f"{tag}-t0.json")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
