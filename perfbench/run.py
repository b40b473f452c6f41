#!/usr/bin/env python3
"""Service-path benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the root of a checkout. Builds the program from source on first
use (perfbench/build.py), runs the workload in one JVM on local[nproc], and
prints every metric by name with its unit, then one JSON result as the last
line of standard output. Exits non-zero when a correctness check fails or
the run is invalid. Workloads and metrics are described in
perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
RUN_TIMEOUT_S = 170
WORKLOADS = ("ingest_backlog", "service_live", "query_history", "aggregate_stream")
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep_debris():
    """Remove work dirs a crashed run left behind."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        parts = name.split("-")
        if len(parts) >= 2 and parts[1].isdigit() and pid_alive(int(parts[1])):
            continue
        shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def git_sha():
    """HEAD of the checkout, or None when the checkout is not itself a git
    repository (an enclosing repository does not count)."""
    try:
        res = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                             timeout=10)
        lines = res.stdout.split()
        if res.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
            return None
        return lines[1]
    except (OSError, subprocess.SubprocessError):
        return None


def java_cmd(work, main_args):
    opens = []
    for p in JAVA_OPENS:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return (["java"] + opens + ["-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Main"] + main_args)


def run_java(work, main_args, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(OUT, "last-stderr.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java_cmd(work, main_args), cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            raise SystemExit(f"run: timed out after {timeout} s (stderr in {log_path})")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, out, log_path


def tracing_overhead(workload, seed, result):
    """Traced against the latest untraced run of the same workload and seed."""
    path = os.path.join(OUT, "records.jsonl")
    if not os.path.exists(path):
        return None
    base = None
    with open(path) as fh:
        for line in fh:
            rec = json.loads(line)
            if rec["workload"] == workload and rec["seed"] == seed and rec["trace"] == 0:
                base = rec["result"]["metrics"]
    if base is None:
        return None
    m = result["metrics"]
    out = {}
    for traced, plain in (("traced.throughput_per_s", "throughput_per_s"),
                          ("traced.latency_p50_ms", "latency_p50_ms")):
        if traced in m and plain in base and base[plain]["value"]:
            out[plain] = m[traced]["value"] / base[plain]["value"] - 1.0
    return out


def main():
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")

    sweep_debris()
    os.makedirs(OUT, exist_ok=True)
    digest = build.build()
    work = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time())}")
    os.makedirs(work)
    try:
        if a.self_test:
            code, out, log = run_java(work, ["--self-test", "1", "--work", work], RUN_TIMEOUT_S)
            sys.stdout.write(out)
            sys.exit(code)
        prov = {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "git_sha": git_sha(), "source_sha256": digest, "nproc": os.cpu_count(),
            "master": f"local[{os.cpu_count()}]", "load_start": os.getloadavg(),
            "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        code, out, log = run_java(work, [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", OUT], RUN_TIMEOUT_S)
        prov["load_end"] = os.getloadavg()
        lines = [ln for ln in out.splitlines() if ln.strip()]
        result = None
        if lines:
            try:
                result = json.loads(lines[-1])
            except ValueError:
                result = None
        for ln in lines[:-1] if result is not None else lines:
            print(ln)
        if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
            sys.stderr.write(f"run: no result (exit {code}); stderr in {log}\n")
            sys.exit(code or 1)
        print("# error_rate = %s" % (result["failed"] / result["attempted"]))
        print("# provenance " + json.dumps(prov, sort_keys=True))
        with open(os.path.join(OUT, "records.jsonl"), "a") as fh:
            fh.write(json.dumps(dict(prov, result=result), sort_keys=True) + "\n")
        if a.trace:
            over = tracing_overhead(a.workload, a.seed, result)
            if over:
                for k, v in over.items():
                    print(f"# tracing overhead on {k}: {v * 100:+.1f} %")
            else:
                print("# tracing overhead: no untraced run of this workload and seed to compare")
        print(json.dumps(result))
        sys.exit(code if not result["correct"] else 0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
