#!/usr/bin/env python3
"""Runs one benchmark workload with one seed and prints its metrics.

    python3 etlbench/run.py --workload airbnb_monthly --seed 1 --seconds 32 --trace 0

Builds the engine and the benchmark if needed (build.py), starts one JVM
with a local Spark session on every core, and prints two JSON lines on
stdout: a report (host state at start and end, set-up detail, pass walls,
failures, all metrics with units) and, last, the result
`{"correct", "attempted", "failed", "metrics"}` whose metrics are the
end-to-end ones with `--trace 0` and the per-layer ones with `--trace 1`.
Generated inputs, stores and Spark scratch go under `etlbench/.work/`,
which is removed at exit. Extra options: `--size tiny` (smoke size),
`--trace-file F` (write the spans), `--record-fingerprints F` (operator_mix:
write the fingerprints of this run).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("airbnb_monthly", "operator_mix")
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpu_ticks():
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(a, b):
    return round(100.0 * (b[1] - a[1]) / (b[0] - a[0]), 3) if b[0] > a[0] else 0.0


def foreign_jvms(exclude):
    n = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) in exclude:
            continue
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    n += 1
        except OSError:
            pass
    return n


def host_state(steal, exclude=()):
    """A record, not a gate: lets a contaminated run be diagnosed later."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    return {"load1": load1, "steal_pct": steal, "foreign_jvms": foreign_jvms(set(exclude))}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--trace-file")
    ap.add_argument("--record-fingerprints")
    args = ap.parse_args()

    fixtures = os.path.join(HERE, "fixtures")
    fingerprints = os.path.join(HERE, "fingerprints.json")
    if not os.path.exists(os.path.join(fixtures, "documents.parquet")):
        print(f"fixtures missing under {fixtures}", file=sys.stderr)
        return 2
    try:
        classpath = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, ".work"))
    proc = None

    def stop(*_):
        raise KeyboardInterrupt

    signal.signal(signal.SIGTERM, stop)
    try:
        t0 = cpu_ticks()
        time.sleep(0.5)
        t1 = cpu_ticks()
        host_start = host_state(steal_pct(t0, t1))
        os.makedirs(os.path.join(work, "tmp"))
        cmd = ["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
            "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:-UsePerfData",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}",
            f"-Detlbench.launchMs={int(time.time() * 1000)}",
            "-cp", classpath, "etlbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--fixtures", fixtures, "--size", args.size,
            "--fingerprints", fingerprints]
        if args.trace_file:
            cmd += ["--trace-file", os.path.abspath(args.trace_file)]
        if args.record_fingerprints:
            cmd += ["--record", os.path.abspath(args.record_fingerprints)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), TMPDIR=os.path.join(work, "tmp"))
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=sys.stderr, start_new_session=True, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
            return 1
        host_end = host_state(steal_pct(t1, cpu_ticks()), exclude=(proc.pid,))
        lines = [ln for ln in out.splitlines() if ln.startswith("ETLBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            print(f"benchmark JVM failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1][len("ETLBENCH_RESULT "):])
        report = dict(res, host={"start": host_start, "end": host_end})
        print(json.dumps(report))
        metrics = res["per_layer"] if args.trace else res["end_to_end"]
        print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                          "failed": res["failed"], "metrics": metrics}))
        return 0
    except KeyboardInterrupt:
        return 1
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
