"""The input side of a run, in ``run.py``'s process: it writes a workload's
files and the expected results before the Spark process starts, and checks
what that process left behind after it has ended. The generator and DuckDB
therefore count neither towards the Spark driver's memory nor towards the
run's set-up time.

The plan (a JSON-able dict) tells the Spark side where everything is; the
Spark side returns a list of checks, each naming an output directory and the
expected result it must match.
"""

from __future__ import annotations

import os
import zlib

import gen
import spec
from oracle import Oracle


def prepare(workload: str, seed: int, seconds: float, work: str) -> dict:
    traffic = spec.TRAFFIC[workload]
    stream = gen.ChangeStream(traffic, seed)
    oracle = Oracle(os.path.join(work, "duckdb-tmp"))
    per_file = traffic.events_per_file

    def path(*parts: str) -> str:
        p = os.path.join(work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def write_files(folder: str, n: int, prefix: str, commit_ts=None) -> list[str]:
        out = []
        for i in range(n):
            p = path(folder, f"{prefix}{i:05d}.parquet")
            gen.write_file(stream.batch(per_file, commit_ts(i) if commit_ts else None), p)
            out.append(p)
        return out

    def expect(files: list[str], seed_file: str | None, name: str) -> dict:
        """Expected state plus the drifted upstream snapshot built from it."""
        exp = path("expected", f"{name}.parquet")
        oracle.expected_state(files, seed_file, exp)
        up = path("expected", f"{name}-upstream.parquet")
        drift_seed = [seed, zlib.crc32(name.encode())]
        injected = oracle.upstream_with_drift(exp, up, spec.DRIFT_PER_KIND, drift_seed)
        return {"expected": exp, "upstream": up, "injected": injected,
                "upstream_rows": oracle.count(up)}

    plan = {"workload": workload, "seed": seed, "seconds": seconds, "work": work,
            "events_per_file": per_file}
    if workload == "changefeed_apply":
        seed_file = path("inputs", "seed", "seed.parquet")
        gen.write_file(stream.seed_rows(), seed_file)
        warm = write_files(os.path.join("inputs", "warmup"), spec.WARMUP_FILES, "w")
        backlog = write_files(os.path.join("inputs", "backlog"), spec.BACKLOG_FILES, "f")
        # every event of a live file commits at the file's scheduled offset;
        # hidden names, renamed into the source directory when due
        cadence = traffic.cadence_s
        staged = write_files(
            "staging", spec.LIVE_WARMUP_FILES + spec.live_files(seconds), ".l",
            commit_ts=lambda i: gen.EVENT_TS0 + int(i * cadence * 1e6),
        )
        plan.update(
            seed_file=seed_file, cadence_s=cadence,
            warmup_dir=os.path.dirname(warm[0]), backlog_dir=os.path.dirname(backlog[0]),
            backlog=backlog, staged=staged,
            exp={"warmup": expect(warm, seed_file, "warmup"),
                 "backlog": expect(backlog, seed_file, "backlog"),
                 "live": expect(staged, seed_file, "live")},
        )
    else:
        pool = [
            write_files(os.path.join("inputs", f"batch{i}"), spec.MQ_FILES_PER_OP, "m")
            for i in range(spec.MQ_WARMUP_OPS + spec.MQ_POOL)
        ]
        plan.update(pool=pool, n_ops=spec.mq_ops(seconds),
                    exp={f"batch{i}": expect(files, None, f"batch{i}")
                         for i, files in enumerate(pool)})
    oracle.close()
    return plan


def check(plan: dict, checks: list[dict]) -> list[str]:
    """Runs the Spark side's checks against the plan's expected results;
    returns one line per mismatch."""
    oracle = Oracle(os.path.join(plan["work"], "duckdb-tmp"))
    notes = []
    for c in checks:
        exp, label = plan["exp"][c["exp"]], c["label"]
        if c["kind"] == "state":
            bad = oracle.state_mismatches(exp["expected"], c["got"])
            if bad:
                notes.append(f"{label}: {bad} rows differ from the reference state")
            if c.get("consumer") and oracle.foreign_rows(c["got"]):
                notes.append(f"{label}: consumer rows outside "
                             f"{spec.SCHEMA}.{spec.TARGET_TABLE}")
        elif c["kind"] == "syncdiff":
            want = {k: len(v) for k, v in exp["injected"].items()}
            got = {k: c["counts"].get(k, 0) for k in want}
            if got != want:
                notes.append(f"{label}: sync_diff counts {got} != injected {want}")
            elif not oracle.repair_matches(c["repair"], exp["injected"]):
                notes.append(f"{label}: repair statements do not name the injected rows")
        else:
            raise ValueError(f"unknown check {c['kind']}")
    oracle.close()
    return notes
