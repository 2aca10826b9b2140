#!/usr/bin/env python3
"""Benchmark command. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM at local[4], prints every metric with its unit and,
as the last line, one JSON object {correct, attempted, failed, metrics}:
the end-to-end metrics of BENCHMARK.json untraced, its per-layer metrics
traced. Exits non-zero on a reference mismatch or any error.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
TIMEOUT_S = 175


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        print(f"unknown workload {a.workload}", file=sys.stderr)
        return 2
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]

    classes = build.build()
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = build.BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "tmp"))
    # the heap may grow to 2 GB and is not pre-touched, so peak RSS follows
    # what the program touches
    cmd = (["java", "-Xmx2g", "-Xss4m", "-XX:-UsePerfData"] +
           build.JVM_OPENS +
           [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", str(work)])
    log = logs / f"{a.workload}-{a.seed}-t{a.trace}.log"
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                             env=env, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"workload timed out after {TIMEOUT_S} s; log: {log}", file=sys.stderr)
            return 3
    for spans in work.glob("spans-*.jsonl"):
        (build.BUILD / "trace").mkdir(exist_ok=True)
        shutil.move(str(spans), str(build.BUILD / "trace" / spans.name))
    shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n") if out.strip() else []
    result = None
    if lines and lines[-1].startswith("{"):
        result = json.loads(lines.pop())
    print("\n".join(lines))
    if result is None:
        print(f"no result from the workload (exit {p.returncode}); log: {log}", file=sys.stderr)
        return p.returncode or 4

    # the workload reports name -> value; units come from BENCHMARK.json
    got = result["metrics"]
    metrics = {}
    for m in wanted:
        name = m["name"]
        if name in got:
            value = got[name]
        elif a.trace:
            value = 0.0  # a per-layer metric of a layer this workload does not run
        else:
            print(f"end-to-end metric {name} missing", file=sys.stderr)
            return 5
        if value is None:
            print(f"metric {name} has no value", file=sys.stderr)
            return 5
        metrics[name] = {"value": value, "unit": m["unit"]}
        print(f"[metric] {name:<36} {value:14.4f} {m['unit']}")
    for name in sorted(set(got) - set(metrics)):
        print(f"[metric] {name:<36} {got[name]} (not in BENCHMARK.json)")
    result["metrics"] = metrics
    print(json.dumps(result))
    return 0 if result["correct"] and p.returncode == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
