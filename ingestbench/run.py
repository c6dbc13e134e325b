#!/usr/bin/env python3
"""Streaming-ingestion benchmark: one workload, one seed, one run.

    python3 ingestbench/run.py --workload vehicle_catchup --seed 1 --seconds 10 --trace 0

Builds the program from source if needed (see build.py), runs the workload
in one JVM with Spark in-process at local[<cores>], and prints as the last
stdout line {"correct", "attempted", "failed", "metrics"}. The line before it
carries the run's validity and diagnostic fields. --trace 1 reports the
per-layer metrics instead of the end-to-end ones and writes spans.jsonl and
metrics.prom under .bench_out/<workload>-seed<n>/. See README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

WORKLOADS = ["vehicle_catchup", "vehicle_paced", "tenant_fanout", "curation_batch"]
JVM_TIMEOUT_S = 175
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg, code=1):
    print(f"[ingestbench] {msg}", file=sys.stderr, flush=True)
    sys.exit(code)


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    p.add_argument("--record", action="store_true",
                   help="rewrite expected/curation.json from this run (curation_batch)")
    a = p.parse_args()
    # SIGTERM during the build unwinds subprocess.run, which kills the compiler
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root", 2)
    try:
        cp = build.ensure()
    except build.BuildError as e:
        fail(f"build failed: {e}", 2)

    tag = f"{a.workload}-seed{a.seed}" + ("-traced" if a.trace else "")
    work = os.path.join(ROOT, ".bench_work", f"{tag}-{os.getpid()}")
    out = os.path.join(ROOT, ".bench_out", tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = (["java", "-Xmx3g", "-Xss8m", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", f"-Djava.io.tmpdir={work}/tmp"] +
           [x for m in ADD_OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")] +
           ["-cp", cp, "ingestbench.Main", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out, "--cache", build.BUILD,
            "--render", build.render_cache(cp)])
    if a.record:
        cmd += ["--record", os.path.join(HERE, "expected", "curation.json")]
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)

        def stop(*_):
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail("interrupted")
        signal.signal(signal.SIGTERM, stop)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            stdout = ""
            print(f"[ingestbench] run exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    lines = [line for line in stdout.splitlines() if line.strip()]
    if proc.returncode != 0 or len(lines) < 2:
        with open(log_path) as log:
            sys.stderr.write(log.read()[-6000:])
        fail(f"run failed (exit {proc.returncode}); log: {log_path}")
    result = json.loads(lines[-1])
    want = declared(a.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))} "
             f"or units {[(k, got.get(k), u) for k, u in want.items() if got.get(k) != u]}")
    with open(os.path.join(out, "result.json"), "w") as f:
        f.write(lines[-2] + "\n" + lines[-1] + "\n")
    print(lines[-2])
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
