"""Changefeed benchmark entry point.

Usage (from the repository root):
    python3 perfbench/run.py --workload changefeed_apply --seed 1 --seconds 15 --trace 0

Runs one workload (see BENCHMARK.json and perfbench/README.md): writes its
inputs and expected results (``inputs.prepare``), runs the Spark side in a
fresh child process with a clean launch environment (``workload.py``),
checks what the child left behind (``inputs.check``), deletes the work
directory and prints, as the last line of standard output, one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (every end-to-end
metric with ``--trace 0``, every per-layer metric with ``--trace 1``). Exits
non-zero, printing no result, when the repository's ``tiflow_spark`` package
is missing or the run fails.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEADLINE_S = 170.0  # a run must end within 180 s, clean-up included
WORKLOADS = ("changefeed_apply", "mq_avro_replay")


def fail(msg: str, code: int = 2) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return code


def wait_group_gone(pgid: int, timeout: float = 10.0) -> None:
    """Wait until no process of the group is left (the JVM is the child's
    child, so it is reaped by init, not by us)."""
    end = time.monotonic() + timeout
    while time.monotonic() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def launch_env(work: str, cpus: int, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        # Spark's Python workers import tiflow_spark for the Avro pandas_udfs
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=tmp,
        # every JVM, the launcher's too: temp files in the work dir, and no
        # hsperfdata file (it would go to /tmp whatever java.io.tmpdir says)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    if trace:
        # the tracer reads every job and stage back from the status store
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 pyspark-shell"
        )
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tiflow_spark", "streaming", "pipeline.py")):
        return fail(f"no tiflow_spark package under {ROOT}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    started = time.monotonic()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    plan_path = os.path.join(work, "plan.json")
    try:
        import inputs
        import spec

        plan = inputs.prepare(args.workload, args.seed, args.seconds, work)
        plan["trace"] = bool(args.trace)
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        cpus = len(os.sched_getaffinity(0))
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workload.py"), plan_path, result_path],
            env=launch_env(work, cpus, bool(args.trace)), cwd=ROOT, stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            # the child's JVM and Python workers share its process group
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            wait_group_gone(proc.pid)
        if code is None:
            return fail(f"workload exceeded {DEADLINE_S:.0f} s", 3)
        if code != 0 or not os.path.exists(result_path):
            return fail(f"workload exited with code {code}", 4)
        with open(result_path) as f:
            res = json.load(f)
        notes = res["notes"] + inputs.check(plan, res["checks"])
        if args.trace:
            spans = os.path.join(work, f"spans-{args.workload}-{args.seed}.json")
            if os.path.exists(spans):
                os.makedirs(out_dir, exist_ok=True)
                shutil.move(spans, os.path.join(out_dir, os.path.basename(spans)))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work directory is still there

    correct = not notes
    failed = res["failed"] if correct else res["attempted"]
    values = res["layer"] if args.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        if m["name"] not in values and not args.trace:
            return fail(f"workload did not report {m['name']}", 5)
        # a layer the workload does not exercise reads 0
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "ops_attempted": res["attempted"], "ops_failed": failed,
                      "env": res["env"],
                      "traffic": dataclasses.asdict(spec.TRAFFIC[args.workload]),
                      "notes": notes}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
