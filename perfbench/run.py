"""Benchmark entry point: builds graft from source, runs one workload in a
fresh JVM, checks its outputs and prints one JSON result line last.

    python3 perfbench/run.py --workload lifecycle --seed 7 --seconds 10 --trace 0
    python3 perfbench/run.py --workload skewed --seed 1 --seconds 10 --trace 1 \
        --report perfbench/traced/skewed.json
    python3 perfbench/run.py --selftest      # negative controls of every output check

Run from the repository root. Everything it writes (classes, tables, Spark
scratch) stays under .bench_build/ in the current directory.

The first run after a build also writes a class-data sharing archive of
the classes it loaded (.bench_build/cds-<stamp>.jsa); later runs map it
instead of loading those classes from the jars, which takes seconds off
Spark's start and the warm-up.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("skewed", "uniform", "lifecycle")
HEAP = "3g"
RUN_TIMEOUT_S = 170

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def ensure_spark_home():
    if os.environ.get("SPARK_HOME"):
        return
    submit = shutil.which("spark-submit")
    if submit:
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def cds_flags(stamp):
    """(JVM flags, archive written at exit or None): use the archive of this
    build if there is one, else write it when the JVM exits."""
    archive = os.path.join(build.BUILD_DIR, f"cds-{stamp[:16]}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"], None
    for old in glob.glob(os.path.join(build.BUILD_DIR, "cds-*.jsa")):
        os.remove(old)  # archives of earlier builds
    return [f"-XX:ArchiveClassesAtExit={archive}.tmp"], archive


def java_cmd(classpath, scratch, main_args, cds=()):
    opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-Xss16m",
             "-Xlog:disable", "-Xlog:all=warning,cds*=off:stderr"] + list(cds) + opens + [
        f"-Djava.io.tmpdir={scratch}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(os.path.dirname(os.path.abspath(__file__)), 'log4j2.properties')}",
        "-cp", classpath, "graftbench.Main"] + main_args)


def run_jvm(cmd, deadline):
    """Runs the JVM, relays its stdout, returns (exit code, RESULT payload)."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("RESULT "):
                result = json.loads(line[len("RESULT "):])
            else:
                print(line, end="", flush=True)
            if time.time() > deadline:
                break
        remaining = max(deadline - time.time(), 1)
        proc.wait(timeout=remaining)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
            print("benchmark run exceeded its time limit", file=sys.stderr)
            return 3, None
    return proc.returncode, result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--report", help="with --trace 1: write the traced per-layer report here")
    ap.add_argument("--selftest", action="store_true",
                    help="run every workload's negative controls at tiny scale")
    args = ap.parse_args()
    if not args.selftest and not args.workload:
        ap.error("--workload is required")

    ensure_spark_home()
    try:
        classpath, stamp = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    scratch = os.path.abspath(os.path.join(build.BUILD_DIR, f"run-{os.getpid()}"))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    report_tmp = os.path.join(scratch, "report.json")
    main_args = (["--selftest"] if args.selftest else
                 ["--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace)])
    main_args += ["--scratch", scratch, "--report", report_tmp]

    load_start = os.getloadavg()
    cds, new_archive = cds_flags(stamp)
    try:
        code, result = run_jvm(java_cmd(classpath, scratch, main_args, cds),
                               time.time() + RUN_TIMEOUT_S)
        load_end = os.getloadavg()
        if new_archive and code == 0 and os.path.exists(new_archive + ".tmp"):
            os.replace(new_archive + ".tmp", new_archive)
        if code != 0 or result is None:
            print(f"benchmark JVM failed (exit {code})", file=sys.stderr)
            return code or 4
        environment = {
            "nproc": os.cpu_count(), "spark_master": f"local[{os.cpu_count()}]", "heap": HEAP,
            "flush_policy": "Hadoop local FS, no fsync; tables fit in RAM and are read from the page cache",
            "loadavg_start": list(load_start), "loadavg_end": list(load_end),
        }
        print("environment " + json.dumps(environment))
        if args.report and os.path.exists(report_tmp):
            with open(report_tmp) as fh:
                report = json.load(fh)
            report["environment"] = environment
            report["result"] = result
            with open(args.report, "w") as fh:
                json.dump(report, fh, indent=1, sort_keys=True)
                fh.write("\n")
        print(json.dumps(result), flush=True)
        return 0
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
