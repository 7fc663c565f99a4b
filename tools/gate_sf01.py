#!/usr/bin/env python3
"""Routine 10x-scale oracle gate (VERDICT r11 #2).

The sf0.01 gate proves correctness at the driver's scale; the sf1 bench
proves queries RUN at 100x that — but between rounds 5 and 11, 120
queries were added without any 10x-scale HASH check. This wrapper closes
that: it runs the full Verify dump at sf0.1 and cross-checks every
oracle in DuckDB with a per-oracle wall budget. Oracles that exceed the
budget are the NON-LINEAR replays (all-pairs audits, unrolled training
chains) — enumerated in the artifact as skipped, never conflated with a
correctness failure. The selection is therefore empirical ("measure,
don't guess"), reproducible, and self-adapting as queries are added.

Usage:
  python3 tools/gate_sf01.py [sfDir] [outDir] [artifact] [--timeout SEC]
Defaults: /root/testdata/sf0.1  /tmp/verify_sf01  CORRECTNESS_SF01.json
          --timeout 120

Run from the repo root (needs build.sbt + target/scala-2.13/classes) at
round end and COMMIT the artifact.
"""
import re
import subprocess
import sys

argv = sys.argv[1:]
timeout = "120"
exclude = None
if "--timeout" in argv:
    i = argv.index("--timeout")
    if i + 1 >= len(argv):
        sys.exit("usage: --timeout requires a value "
                 "(gate_sf01.py [sfDir] [outDir] [artifact] [--timeout SEC] "
                 "[--exclude a=reason,b])")
    timeout = argv[i + 1]
    del argv[i:i + 2]
# pass-through to check_oracle (the sf1 gate names the designed engine
# refusals here so the artifact records WHY they carry no hash check)
if "--exclude" in argv:
    i = argv.index("--exclude")
    if i + 1 >= len(argv):
        sys.exit("usage: --exclude requires a value")
    exclude = argv[i + 1]
    del argv[i:i + 2]
sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
out_dir = argv[1] if len(argv) > 1 else "/tmp/verify_sf01"
artifact = argv[2] if len(argv) > 2 else "CORRECTNESS_SF01.json"

# the JDK17 --add-opens list lives in build.sbt — single source of truth
sbt = open("build.sbt").read()
m = re.search(r"val jdk17AddOpens[^=]*=\s*Seq\((.*?)\)\.flatMap", sbt, re.S)
opens = [f"--add-opens={p}=ALL-UNNAMED" for p in re.findall(r'"([^"]+)"', m.group(1))]

import glob
import os
import signal
# a JVM that dies must leave evidence in out_dir: a heap dump on OOM, the
# fatal-error log on a crash, and a GC log either way
os.makedirs(out_dir, exist_ok=True)
java_cmd = ["java", *opens,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-XX:+HeapDumpOnOutOfMemoryError", f"-XX:HeapDumpPath={out_dir}",
            f"-XX:ErrorFile={out_dir}/hs_err_pid%p.log",
            f"-Xlog:gc*:file={out_dir}/gc.log",
            "-cp", "target/scala-2.13/classes:/opt/spark/jars/*",
            "graft.Verify", sf_dir, out_dir]
print(f"gate_sf01: Verify dump at {sf_dir} -> {out_dir}", flush=True)
def evidence():
    return set(glob.glob(f"{out_dir}/hs_err_pid*.log") + glob.glob(f"{out_dir}/*.hprof"))
# only this run's files count: an earlier death may have left its own
stale = evidence()
rc = subprocess.run(java_cmd).returncode
if rc != 0:
    how = f"exited {rc}"
    if rc < 0:
        try:
            how = f"killed by {signal.Signals(-rc).name}"
        except ValueError:
            how = f"killed by signal {-rc}"
    print(f"gate_sf01: Verify {how}", file=sys.stderr)
    fresh = sorted(evidence() - stale)
    for path in fresh:
        print(f"gate_sf01:   evidence: {path}", file=sys.stderr)
    if not fresh:
        print(f"gate_sf01:   no hs_err/.hprof in {out_dir} "
              f"(GC log: {out_dir}/gc.log)", file=sys.stderr)
    sys.exit(rc if rc > 0 else 128 - rc)

print(f"gate_sf01: DuckDB cross-check, per-oracle budget {timeout}s", flush=True)
check_cmd = [sys.executable, "tools/check_oracle.py",
             sf_dir, out_dir, artifact, "--timeout", timeout]
if exclude:
    check_cmd += ["--exclude", exclude]
rc = subprocess.run(check_cmd).returncode
sys.exit(rc)
