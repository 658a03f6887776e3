"""graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload pipeline_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --compare-protocols --seed 1

Builds the program from the checkout's sources (build.py), runs one workload
in a fresh JVM with one local Spark session (local[nproc]), then prints a
report and, as the last stdout line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`. `--trace 0` gives the end-to-end metrics,
`--trace 1` the per-layer ones from a traced run and writes its spans file.
Raw records and spans files land in `.bench_build/perfbench/records/`.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import report  # noqa: E402

WORKLOADS = ["pipeline_mix", "live_collection", "dedup_corpus"]
HEAP = "3g"
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these opens (the list of
# org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def git_head():
    try:
        res = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return res.stdout.strip() or None if res.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_java(built, mode_args, work, log_path, timeout):
    """Runs perfbench.Main in its own process group; kills the group on
    timeout and always waits for it."""
    classes, jars, _ = built
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # -XX:-UsePerfData: the JVM would otherwise write its perf-data file
    # outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main"]
           + mode_args + ["--work", work])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=work, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except BaseException as e:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            if isinstance(e, subprocess.TimeoutExpired):
                raise RuntimeError(f"benchmark program exceeded {timeout} s (log: {log_path})")
            raise
    return proc.returncode, out


def run_workload(built, workload, args, out_dir, stamp, work):
    """One measured run: prints its report lines, returns its summary."""
    started = time.time()
    name = f"{workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    raw = os.path.join(out_dir, name + ".raw.json")
    code, _ = run_java(
        built, ["run", "--workload", workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", raw],
        work, os.path.join(out_dir, name + ".log"), RUN_TIMEOUT_S)
    if code != 0 or not os.path.exists(raw):
        raise RuntimeError(f"benchmark program failed with exit code {code}; log: {out_dir}/{name}.log")
    with open(raw) as fh:
        record = json.load(fh)
    record["head"] = git_head()
    record["source_digest"] = built[2]
    record["wall_s"] = time.time() - started
    spans_path = os.path.join(out_dir, name + ".spans.jsonl") if args.trace else None
    summary = report.summarize(record, spans_path)
    for line in report.render(record, summary):
        print(line)
    with open(os.path.join(out_dir, name + ".json"), "w") as fh:
        json.dump({"tags": report.tags(record), "summary": summary}, fh, indent=1)
    return summary


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS + ["all"],
                    help="one workload, or all three in turn (one JVM and session each)")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run the benchmark's own tests (report logic, generators, checks)")
    ap.add_argument("--compare-protocols", action="store_true",
                    help="BASELINE shapes: plan-once vs fresh-plan latency in one session")
    args = ap.parse_args(argv)

    out_dir = os.path.join(build.OUT, "records")
    os.makedirs(out_dir, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%SZ")
    work = os.path.join(build.OUT, f"work-{os.getpid()}")
    try:
        built = build.build()
        if args.selftest:
            import test_report
            ok = test_report.run()
            code, out = run_java(built, ["selftest"], work, os.path.join(out_dir, f"selftest-{stamp}.log"), 600)
            print(out, end="")
            return 0 if ok and code == 0 else 1
        if args.compare_protocols:
            code, out = run_java(built, ["compare-protocols", "--seed", str(args.seed)], work,
                                 os.path.join(out_dir, f"protocols-{stamp}.log"), 600)
            print(out, end="")
            return code
        if not args.workload:
            ap.error("--workload is required")
        if args.workload != "all":
            summary = run_workload(built, args.workload, args, out_dir, stamp, work)
            print(json.dumps(report.result_line(summary, args.trace)))
            return 0
        lines = {w: report.result_line(run_workload(built, w, args, out_dir, stamp, work), args.trace)
                 for w in WORKLOADS}
        print(json.dumps({
            "correct": all(r["correct"] for r in lines.values()),
            "attempted": sum(r["attempted"] for r in lines.values()),
            "failed": sum(r["failed"] for r in lines.values()),
            "metrics": {f"{w}.{n}": m for w, r in lines.items() for n, m in r["metrics"].items()}}))
        return 0
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    except RuntimeError as e:
        print(str(e), file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops and waits for the JVM it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main(sys.argv[1:]))
