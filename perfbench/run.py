#!/usr/bin/env python3
"""One benchmark run: build if needed, run the workload in a fresh JVM, check
its outputs, print one JSON result line.

    python3 perfbench/run.py --workload convert_ddos --seed 1 --seconds 8 --trace 0

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1 the
per-layer metrics (and writes the span file). The last stdout line is the
result; the line before it carries box load and other context that is
reported but never gated. Exits 1 on any failed op or correctness check,
2 when the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
# a run must end within 180 s; the JVM gets what the build left of that
RUN_LIMIT_S = 170


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def run_jvm(java, path, main, args, work, deadline):
    cmd = java + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", path, main] + args
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    with open(work / "jvm.log", "wb") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    try:
        java, path = build.build(trace=a.trace == 1)
    except build.BuildError as e:
        fail(f"build failed: {e}")
    deadline = time.monotonic() + RUN_LIMIT_S

    work = build.OUT / "runs" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    main_class = "perfbench.TracedMain" if a.trace else "perfbench.Main"
    launched_ms = int(time.time() * 1000)
    rc = run_jvm(java, path, main_class,
                 ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--work", str(work), "--cores", str(cores), "--launched-ms", str(launched_ms)],
                 work, deadline)
    try:
        report(a, bench, work, rc)
    finally:
        for d in ("corpus", "out", "spark-local", "tmp"):
            shutil.rmtree(work / d, ignore_errors=True)


def report(a, bench, work, rc):
    """Check the run's outputs and print the context and result lines."""
    result = work / "result.json"
    if rc != 0 or not result.is_file():
        tail = (work / "jvm.log").read_text(errors="replace").splitlines()[-25:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"JVM {'timed out' if rc is None else f'exited {rc}'}; log: {work / 'jvm.log'}")
    r = json.loads(result.read_text())

    attempted, failed, reasons = r["attempted"], r["failed"], list(r["reasons"])
    oracle = r["info"].pop("oracle", None)
    if oracle is not None:
        import oracle as duck
        for name, why in duck.check(oracle).items():
            ok = oracle["queries"].get(name, {}).get("ok", 0)
            failed += max(ok, 1)
            reasons.append(f"{name}: DuckDB disagrees: {why}")

    wanted = bench["per_layer"] if a.trace else bench["end_to_end"]
    values = dict(r["metrics"])
    if not a.trace:
        values["success_ratio"] = (attempted - failed) / attempted if attempted else 0.0
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"run reported no value for {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    correct = failed == 0 and attempted > 0
    context = {"box": r["box"], "info": r["info"], "reasons": reasons, "work": str(work)}
    (work / "artifact.json").write_text(json.dumps(
        {"workload": a.workload, "seed": a.seed, "trace": a.trace, "correct": correct,
         "attempted": attempted, "failed": failed, "metrics": metrics, **context}, indent=1))
    print(json.dumps(context))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if not correct:
        sys.exit(1)


if __name__ == "__main__":
    main()
