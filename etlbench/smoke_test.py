#!/usr/bin/env python3
"""Smoke test of the benchmark at tiny size (one month, one pass, a
three-query mix), for both workloads, untraced and traced.

    python3 etlbench/smoke_test.py

Asserts that every metric BENCHMARK.json names is present with its unit,
that no operation failed, and that in a traced run every span's self time
is >= 0, the spans of each operation add up to within 5% of its wall, and
the tasks and input bytes attributed to an operation's spans equal what
`Metrics.measure`, a separate listener, counted for the operation.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, trace_file=None):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "5", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if trace_file:
        cmd += ["--trace-file", trace_file]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}"
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for w in (x["name"] for x in bench["workloads"]):
        for trace, declared in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
            with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as tmp:
                spans_file = os.path.join(tmp, "spans.json")
                report, result = run(w, trace, spans_file if trace else None)
                assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
                assert result["failed"] == 0 and result["correct"], report["failures"]
                assert result["attempted"] >= 1
                for m in declared:
                    got = result["metrics"].get(m["name"])
                    assert got is not None and got["unit"] == m["unit"], (w, m, got)
                    assert isinstance(got["value"], (int, float)), (w, m, got)
                if trace:
                    with open(spans_file) as fh:
                        spans = json.load(fh)
                    traced = [s for s in spans if s["pass"] == report["passes"] - 1]
                    assert traced, "no spans in the traced pass"
                    assert all(s["self_s"] >= -1e-6 for s in spans), "negative self time"
                    for op in (s for s in traced if s["id"] == s["op"]):
                        own = [s for s in traced if s["op"] == op["id"]]
                        layers = sum(s["self_s"] for s in own)
                        assert abs(layers - op["latency_s"]) <= 0.05 * op["latency_s"] + 0.01, \
                            (op["name"], layers, op["latency_s"])
                        for key in ("tasks", "input_bytes"):
                            got = sum(s[key] for s in own)
                            assert got == op["measured_" + key], (op["name"], key, got, op["measured_" + key])
                    assert "trace.overhead_s" in result["metrics"]
                print(f"ok {w} trace={trace}: attempted {result['attempted']}, "
                      f"{len(result['metrics'])} metrics", flush=True)


if __name__ == "__main__":
    main()
