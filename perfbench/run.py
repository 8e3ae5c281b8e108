"""Benchmark entry point.

    python3 perfbench/run.py --workload churn --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py), runs
one workload in one JVM (perfbench.Main) and prints, as the last line of
standard output, one JSON object with the keys correct, attempted, failed
and metrics. See perfbench/README.md for the workloads and metrics.
"""

import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("churn", "corpus_ops")
JVM_TIMEOUT_S = 170


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    try:
        built = build.build()
        work = build.OUT / "work" / f"{args.workload}-{os.getpid()}"
        cmd = build.jvm(built, work, build.main_args(
            args.workload, args.seed, args.seconds, args.trace, work,
            build.OUT / "counts"))
    except build.BuildError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            cwd=build.ROOT, start_new_session=True)

    def stop(signum, _frame):
        os.killpg(proc.pid, signal.SIGKILL)
        raise SystemExit(128 + signum)

    # the JVM runs in its own process group: take it down with us
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"perfbench: {args.workload} exceeded {JVM_TIMEOUT_S} s",
              file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    try:
        raw = json.loads(lines[-1])
        result = to_result(raw, args.trace == 1)
    except (ValueError, KeyError) as e:
        sys.stderr.write(out)
        print(f"perfbench: {args.workload} exited {proc.returncode} "
              f"without a result ({e})", file=sys.stderr)
        return proc.returncode or 4
    if proc.returncode != 0:
        sys.stderr.write(out)
        return proc.returncode
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result))
    return 0


def to_result(raw: dict, trace: bool) -> dict:
    """Turn the JVM's raw values into the result line: every end-to-end
    metric (untraced run) or every per-layer metric (traced run), with
    units from BENCHMARK.json. A per-layer metric of a layer the workload
    does not exercise reads 0; a missing end-to-end metric is an error."""
    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = raw["values"]
    unknown = sorted(set(values) - declared)
    if unknown:
        raise ValueError(f"undeclared metrics {unknown}")
    metrics = {}
    for m in spec["per_layer" if trace else "end_to_end"]:
        if m["name"] not in values and not trace:
            raise KeyError(m["name"])
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    return {"correct": bool(raw["correct"]), "attempted": int(raw["attempted"]),
            "failed": int(raw["failed"]), "metrics": metrics}


if __name__ == "__main__":
    sys.exit(main())
