"""The Spark side of one benchmark run, in a fresh process started by
``run.py``.

Usage:
    python3 perfbench/workload.py PLAN_JSON RESULT_JSON

``run.py`` writes the inputs and the expected results before this process
starts (``inputs.prepare``) and checks what it leaves behind after it ends
(``inputs.check``), so this process holds the Spark driver and the
benchmark's bookkeeping only. Every timed step ends in a real write (the
changefeed's target, the broker, a parquet sink) or a ``noop`` write, never
in ``count()``.
"""

from __future__ import annotations

import json
import os
import platform
import resource
import shutil
import subprocess
import sys
import time
from datetime import datetime

import spec
from spans import Jvm, Tracer, spark_jobs

from tiflow_spark.config import Dispatcher, RouteRule, TableRule, TaskConfig

COLS = spec.COLS
# the changefeed under test: drop the audit tables, merge the shard tables
CFG = TaskConfig(
    ignore_tables=(TableRule(spec.SCHEMA, spec.BLOCKED_PREFIX + "*"),),
    routes=(
        RouteRule(spec.SCHEMA, spec.TARGET_TABLE + "_*", spec.SCHEMA, spec.TARGET_TABLE),
    ),
)
# the Kafka sink's dispatcher: index-value over 8 partitions
MQ_CFG = TaskConfig(
    dispatchers=(
        Dispatcher(tables=(TableRule(spec.SCHEMA, "*"),), partition="index-value"),
    ),
)

_T0 = time.perf_counter()


def pct(values, q: float) -> float:
    """Linear-interpolated percentile within the sample range."""
    v = sorted(values)
    pos = (len(v) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    return pct(values, 50)


class Run:
    """State of one workload run: plan, session, checks and metrics."""

    def __init__(self, plan: dict, trace: bool):
        self.plan = plan
        self.workload, self.work = plan["workload"], plan["work"]
        self.tracer = Tracer(trace)
        self.layer: dict[str, float] = {}
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.spark = None
        self.jvm = None
        self._jit0 = self._gc0 = 0.0
        self._jobs_attached = False
        self.buckets: dict[str, dict] = {}

    def path(self, *parts: str) -> str:
        p = os.path.join(self.work, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def log(self, what: str) -> None:
        print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {what}", file=sys.stderr, flush=True)

    # ----------------------------------------------------------- session

    def start_session(self) -> float:
        t0 = time.perf_counter()
        from tiflow_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.workload}")
        took = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = Jvm(self.spark)
        self.layer["session.start_s"] = took
        return took

    def env_info(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark": self.spark.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "master": sc.master,
        }

    def mark_timed(self) -> float:
        """Start of the timed phase: returns JIT seconds spent so far."""
        self._jit0, self._gc0 = self.jvm.jit_s(), self.jvm.gc_s()
        return self._jit0

    # -------------------------------------------------------- validation

    def validate(self, dst_of, exp_name: str, label: str) -> float:
        """sync_diff between the drifted upstream snapshot and the copy:
        chunk checksums, row diff of the failing chunks, repair SQL, each
        materialized. Returns seconds; the counts and the repair statements
        are checked after the run."""
        from tiflow_spark.validation import syncdiff as sd

        spark, tr = self.spark, self.tracer
        width = max(1, spec.TRAFFIC[self.workload].n_keys // 50)
        repair_dir = self.path("repair", label)
        t0 = time.perf_counter()
        with tr.span("syncdiff.validate", "syncdiff", label):
            src = spark.read.parquet(self.plan["exp"][exp_name]["upstream"]).select(*COLS)
            dst = dst_of().select(*COLS)
            with tr.span("syncdiff.compare_checksums", "syncdiff"):
                cc = sd.compare_checksums(src, dst, "id", COLS, width).persist()
                chunks = cc.collect()
            with tr.span("syncdiff.targeted_row_diff", "syncdiff"):
                diff = sd.targeted_row_diff(
                    src, dst, "id", COLS, width, checksums=cc
                ).persist()
                kinds = {r["kind"]: r["count"] for r in diff.groupBy("kind").count().collect()}
            with tr.span("syncdiff.repair_sql", "syncdiff"):
                sd.repair_sql(diff, f"{spec.SCHEMA}.{spec.TARGET_TABLE}", "id", COLS) \
                    .write.mode("overwrite").parquet(repair_dir)
        took = time.perf_counter() - t0
        cc.unpersist()
        diff.unpersist()
        self.checks.append({"kind": "syncdiff", "label": label, "exp": exp_name,
                            "counts": kinds, "repair": repair_dir})
        bad = [c for c in chunks if not c["match"]]
        self.layer["syncdiff.chunks_total"] = len(chunks)
        self.layer["syncdiff.chunks_failed"] = len(bad)
        self.layer["syncdiff.rows_joined_per_diff_row"] = sum(
            c["src_cnt"] + c["dst_cnt"] for c in bad
        ) / max(1, sum(kinds.values()))
        return took

    def check_state(self, df, exp_name: str, label: str) -> None:
        """Writes the state out for the exact comparison after the run."""
        out = self.path("state", label)
        df.select(*COLS).write.mode("overwrite").parquet(out)
        self.checks.append({"kind": "state", "label": label, "exp": exp_name,
                            "got": f"{out}/*.parquet"})

    # ------------------------------------------------------- apply layers

    def seed_target(self, seed_file: str, target: str) -> float:
        """Bulk-load the seeded rows as the changefeed's initial target."""
        from tiflow_spark.sinks.bucketed import merge_hash_bucketed

        t0 = time.perf_counter()
        merge_hash_bucketed(
            self.spark.read.parquet(seed_file), target, n_buckets=spec.N_BUCKETS,
            key_cols=("target_table", "key"), table_col="target_table",
        )
        return time.perf_counter() - t0

    def install_apply_spans(self) -> None:
        from tiflow_spark.sinks import bucketed
        from tiflow_spark.streaming import pipeline

        tr = self.tracer
        tr.wrap(pipeline.StreamingTarget, "merge_batch", "pipeline",
                trace_of=lambda a, k: a[2] if len(a) > 2 else k.get("batch_id"))
        tr.wrap(pipeline, "last_state_per_key", "operators")
        tr.wrap(bucketed, "merge_hash_bucketed", "bucketed",
                trace_of=lambda a, k: k.get("batch_id", 0), after=self._note_buckets)
        tr.wrap(bucketed, "compact_deltas", "bucketed")

    def _note_buckets(self, rec: dict, args, kwargs) -> None:
        """After a bucketed merge: how many bucket directories the commit
        replaced (a swapped-in directory has a new inode) and their bytes."""
        path = args[1] if len(args) > 1 else kwargs["path"]
        now = bucket_inodes(path)
        prev = self.buckets.get(path, {})
        changed = [d for d, ino in now.items() if prev.get(d) != ino]
        rec["buckets"] = len(changed)
        rec["bytes"] = sum(e.stat().st_size for d in changed for e in os.scandir(d)
                           if e.name.endswith(".parquet"))
        self.buckets[path] = now

    def progress_rows(self, progress: list, since: float = 0.0) -> list[dict]:
        """Micro-batches with input, from StreamingQueryProgress; each also
        becomes a trigger span."""
        rows = []
        for p in progress:
            start = _iso_epoch(p.timestamp)
            if start < since or p.numInputRows == 0:
                continue
            d = p.durationMs or {}
            row = {"batch": p.batchId, "start": start,
                   "trigger": d.get("triggerExecution", 0) / 1000.0}
            for k in ("addBatch", "latestOffset", "getBatch", "queryPlanning",
                      "walCommit", "commitOffsets"):
                row[k] = d.get(k, 0) / 1000.0
            rows.append(row)
            self.tracer.add("pipeline.trigger", "pipeline", p.batchId,
                            start, start + row["trigger"])
        return rows

    def pipeline_metrics(self, rows: list[dict], waits: list[float]) -> None:
        n = max(1, len(rows))
        L = self.layer
        L["pipeline.batches"] = len(rows)
        L["pipeline.batch_s_p50"] = median([r["trigger"] for r in rows]) if rows else 0.0
        L["pipeline.add_batch_s"] = sum(r["addBatch"] for r in rows) / n
        L["pipeline.overhead_s"] = sum(r["trigger"] - r["addBatch"] for r in rows) / n
        L["source.latest_offset_s"] = sum(r["latestOffset"] for r in rows) / n
        L["source.get_batch_s"] = sum(r["getBatch"] for r in rows) / n
        L["pipeline.query_planning_s"] = sum(r["queryPlanning"] for r in rows) / n
        L["pipeline.wal_commit_s"] = sum(r["walCommit"] for r in rows) / n
        L["pipeline.commit_offsets_s"] = sum(r["commitOffsets"] for r in rows) / n
        L["pipeline.queue_wait_p50_s"] = median(waits) if waits else 0.0

    def bucketed_metrics(self, since: float) -> None:
        merges = [s for s in self.tracer.named("bucketed.merge_hash_bucketed")
                  if s["start"] >= since]
        n = max(1, len(merges))
        L = self.layer
        L["bucketed.merge_calls"] = len(merges)
        L["bucketed.merge_s"] = sum(s["end"] - s["start"] for s in merges) / n
        for key, src in (("buckets_touched_per_batch", "buckets"), ("bytes_written", "bytes"),
                         ("jobs", "jobs"), ("stages", "stages"),
                         ("shuffle_bytes", "shuffle_bytes")):
            L[f"bucketed.{key}"] = sum(s.get(src, 0) for s in merges) / n

    def operator_metrics(self, files: list[str]) -> None:
        """The changefeed's operators in isolation on the workload's input:
        driver-side plan construction, a noop-materialized run, then (not
        timed) the row count each operator leaves."""
        from tiflow_spark.operators import filters as flt
        from tiflow_spark.operators import transforms as tfm
        from tiflow_spark.operators.compactor import last_state_per_key

        t0 = time.perf_counter()
        env = self.spark.read.parquet(*files)
        kept = flt.apply_filters(env, CFG)
        split = tfm.split_updates(tfm.route(kept, CFG))
        out = last_state_per_key(split, "target_table")
        t1 = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        n_env, n_kept, n_split, n_out = (df.count() for df in (env, kept, split, out))
        L = self.layer
        L["operators.construct_s"] = t1 - t0
        L["operators.exec_s"] = t2 - t1
        L["operators.filter_keep_ratio"] = n_kept / n_env
        L["operators.split_ratio"] = n_split / max(1, n_kept)
        L["operators.compaction_ratio"] = n_out / max(1, n_split)

    def read_state_isolated(self, target: str) -> None:
        from tiflow_spark.sinks.bucketed import read_state

        t0 = time.perf_counter()
        read_state(self.spark, target).write.format("noop").mode("overwrite").save()
        self.layer["bucketed.read_state_s"] = time.perf_counter() - t0

    # ------------------------------------------------------------ result

    def attach_jobs(self) -> None:
        """Charge the status store's jobs to the spans (once per run)."""
        if not self._jobs_attached:
            self.tracer.attach_jobs(spark_jobs(self.spark))
            self._jobs_attached = True

    def finish(self, e2e: dict, timed_start: float, jit_setup: float) -> dict:
        L = self.layer
        L["jvm.jit_setup_s"] = jit_setup
        L["jvm.jit_timed_s"] = self.jvm.jit_s() - self._jit0
        L["jvm.gc_s"] = self.jvm.gc_s() - self._gc0
        L["jvm.heap_hwm_mb"] = self.jvm.heap_peak_mb()
        e2e["peak_rss_mb"] = self.jvm.vm_hwm_mb() + (
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        if self.tracer.enabled:
            self.attach_jobs()
            for key, name in (("checksum_s", "syncdiff.compare_checksums"),
                              ("row_diff_s", "syncdiff.targeted_row_diff"),
                              ("repair_sql_s", "syncdiff.repair_sql")):
                ss = [s for s in self.tracer.named(name) if s["start"] >= timed_start]
                L[f"syncdiff.{key}"] = sum(s["dur"] for s in ss) / max(1, len(ss))
            for layer, s in self.tracer.self_times(since=timed_start).items():
                L[f"selftime.{layer}_s"] = s
            for k, v in e2e.items():
                L[f"traced.{k}"] = v
        return e2e


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def file_batches(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the checkpoint's source log."""
    out = {}
    log = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(log) if os.path.isdir(log) else ():
        if name.startswith("."):
            continue  # checksum side files; "<n>.compact" holds batches up to n
        with open(os.path.join(log, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = rec["batchId"]
    return out


def batch_commits(checkpoint: str) -> dict[int, float]:
    """Micro-batch id -> commit time (epoch s), from the commit log."""
    log = os.path.join(checkpoint, "commits")
    return {int(e.name): e.stat().st_mtime
            for e in (os.scandir(log) if os.path.isdir(log) else ())
            if e.name.isdigit()}


def file_commits(checkpoint: str) -> dict[str, float]:
    commits = batch_commits(checkpoint)
    return {f: commits[b] for f, b in file_batches(checkpoint).items() if b in commits}


def bucket_inodes(target: str) -> dict[str, int]:
    return {e.path: e.inode() for e in os.scandir(target)
            if e.is_dir() and e.name.startswith("bucket=")}


def publish(staged: str, dest: str, when: float) -> None:
    """Make a staged file visible to the source: stamp its mtime (the file
    source orders new files by it) and rename it to ``dest``. The staging
    directory sits outside the source directory on the same filesystem, so
    the source never lists a half-written file."""
    os.utime(staged, (when, when))
    os.rename(staged, dest)


# ----------------------------------------------------------------- workloads


def changefeed_apply(run: Run) -> dict:
    """A paused changefeed resumes. Catch-up: drain a backlog written before
    the changefeed starts (availableNow trigger, rewrite mode) into a copy
    of the seeded target. Live: a standing changefeed (processing-time
    trigger) on another copy, fed open loop with one file per cadence tick;
    a file's latency runs from its due time to the commit of the micro-batch
    that applied it. Each phase ends with a sync_diff of its copy against a
    drifted upstream snapshot."""
    from tiflow_spark.sinks.bucketed import read_state
    from tiflow_spark.streaming.pipeline import run_changefeed

    plan = run.plan
    cadence, per_file = plan["cadence_s"], plan["events_per_file"]
    files, staged = plan["backlog"], plan["staged"]
    session_s = run.start_session()
    spark, tr = run.spark, run.tracer
    if tr.enabled:
        run.install_apply_spans()
    template = run.path("template")
    seed_s = run.seed_target(plan["seed_file"], template)
    run.log(f"session {session_s:.1f}s, seed {seed_s:.1f}s")

    def copy_target(label: str) -> str:
        wd = run.path(label)
        target = os.path.join(wd, "target")
        shutil.copytree(template, target)
        run.buckets[target] = bucket_inodes(target)
        return wd

    def state_of(wd: str):
        return lambda: read_state(spark, os.path.join(wd, "target"))

    # warm-up on disjoint input: drains, then one sync_diff pass
    setup_s = session_s + seed_s
    for n in range(spec.WARMUP_DRAINS):
        wd = copy_target(f"warmup{n}")
        t0 = time.perf_counter()
        run_changefeed(spark, plan["warmup_dir"], CFG, wd)
        setup_s += time.perf_counter() - t0
        if n == spec.WARMUP_DRAINS - 1:
            setup_s += run.validate(state_of(wd), "warmup", "warmup")
            run.check_state(state_of(wd)(), "warmup", "warmup")
        shutil.rmtree(wd)
    run.log(f"warm-up done, setup {setup_s:.1f}s")

    jit_setup = run.mark_timed()
    timed_start = time.time()

    # catch-up: the same backlog drained into fresh copies, median taken
    rates, val_rates, rows = [], [], []
    up_rows = {k: e["upstream_rows"] for k, e in plan["exp"].items()}
    for n in range(spec.CATCHUP_DRAINS):
        label = f"catchup{n}"
        wd = copy_target(label)
        t0 = time.perf_counter()
        with tr.span("phase.catchup", "pipeline", label):
            q, _ = run_changefeed(spark, plan["backlog_dir"], CFG, wd)
        rates.append(len(files) * per_file / (time.perf_counter() - t0))
        ckpt = os.path.join(wd, "checkpoint")
        batch_of, commits = file_batches(ckpt), batch_commits(ckpt)
        rows += run.progress_rows(q.recentProgress)
        for f in files:
            run.attempted += 1
            if batch_of.get(os.path.basename(f)) not in commits:
                run.failed += 1
        val_rates.append(up_rows["backlog"] / run.validate(state_of(wd), "backlog", label))
        run.check_state(state_of(wd)(), "backlog", label)
        if tr.enabled and n == 0:
            run.read_state_isolated(os.path.join(wd, "target"))
        shutil.rmtree(wd)
        run.log(f"{label}: {rates[-1]:.0f} events/s")
    # live
    wd = copy_target("live")
    source = run.path("source", "")
    names = [os.path.basename(s)[1:] for s in staged]
    q, _ = run_changefeed(
        spark, source, CFG, wd, await_termination=False,
        processing_time="500 milliseconds",
    )
    # open loop: each file goes out at its due time, whatever the commits do
    due = [time.time() + (i + 1) * cadence for i in range(len(staged))]
    published = []
    for s, name, d in zip(staged, names, due):
        time.sleep(max(0.0, d - time.time()))
        now = time.time()
        publish(s, os.path.join(source, name), now)
        published.append(now)
    ckpt = os.path.join(wd, "checkpoint")
    deadline = due[-1] + spec.LATENCY_LIMIT_S + 5
    commits = file_commits(ckpt)
    while len(commits) < len(staged) and time.time() < deadline and q.isActive:
        time.sleep(0.1)
        commits = file_commits(ckpt)
    progress = list(q.recentProgress)
    q.stop()
    if q.exception() is not None:
        run.notes.append(f"live changefeed failed: {q.exception()}")
    run.log("live stopped")
    first = spec.LIVE_WARMUP_FILES
    timed = list(zip(names, due, published))[first:]
    lats = []
    for name, d, _ in timed:
        run.attempted += 1
        c = commits.get(name)
        if c is None or c - d > spec.LATENCY_LIMIT_S:
            run.failed += 1
        if c is not None:
            lats.append(c - d)
    run.log("live latencies " + " ".join(f"{x:.2f}" for x in lats))
    val_rates.append(up_rows["live"] / run.validate(state_of(wd), "live", "live"))
    run.check_state(state_of(wd)(), "live", "live")
    run.log("live validated")

    L = run.layer
    L["gen.events"] = (len(files) + len(timed)) * per_file
    L["gen.files"] = len(files) + len(timed)
    L["gen.late_p99_s"] = pct([p - d for _, d, p in timed], 99)
    # live files published but not yet committed, at each publish
    L["gen.backlog_files_max"] = max(
        sum(1 for m, _, pm in timed if pm <= p < commits.get(m, float("inf")))
        for _, _, p in timed
    )
    if tr.enabled:
        run.attach_jobs()
        live_rows = run.progress_rows(progress, since=due[first])
        batch_of = file_batches(ckpt)
        start_of = {r["batch"]: r["start"] for r in live_rows}
        waits = [start_of[batch_of[n]] - d for n, d, _ in timed if batch_of.get(n) in start_of]
        run.pipeline_metrics(rows + live_rows, waits)
        run.bucketed_metrics(timed_start)
        run.operator_metrics(files[:spec.MAX_FILES_PER_TRIGGER])
        L["baseline.local1_events_per_s"] = local1_baseline(run, len(files) * per_file)
    return run.finish(
        {
            "setup_s": setup_s,
            "events_per_s": median(rates),
            "validate_rows_per_s": median(val_rates),
            "latency_p50_s": pct(lats, 50) if lats else spec.LATENCY_LIMIT_S,
            "latency_p90_s": pct(lats, 90) if lats else spec.LATENCY_LIMIT_S,
        },
        timed_start, jit_setup,
    )


def local1_baseline(run: Run, events: int) -> float:
    """One drain of the catch-up backlog on a local[1] session in a child
    process: the single-thread baseline."""
    out = run.path("baseline.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    subprocess.run(
        [sys.executable, os.path.abspath(__file__), "baseline", run.plan["seed_file"],
         run.plan["backlog_dir"], run.path("baseline"), out],
        env=env, check=True, timeout=150,
    )
    with open(out) as f:
        took = json.load(f)["drain_s"]
    return events / took


def baseline_main(seed_file: str, backlog_dir: str, work: str, out: str) -> None:
    from tiflow_spark.session import get_spark
    from tiflow_spark.sinks.bucketed import merge_hash_bucketed
    from tiflow_spark.streaming.pipeline import run_changefeed

    spark = get_spark("perfbench-local1")
    try:
        merge_hash_bucketed(
            spark.read.parquet(seed_file), os.path.join(work, "target"),
            n_buckets=spec.N_BUCKETS, key_cols=("target_table", "key"),
            table_col="target_table",
        )
        t0 = time.perf_counter()
        run_changefeed(spark, backlog_dir, CFG, work)
        took = time.perf_counter() - t0
    finally:
        spark.stop()
    with open(out, "w") as f:
        json.dump({"drain_s": took}, f)


def mq_avro_replay(run: Run) -> dict:
    """Kafka-sink path: filter, route, split and dispatch a batch, encode it
    as Avro, produce it to the file broker, replay the broker into consumer
    state and write that state out. One op is one batch, each on its own
    broker; every consumer state is checked exactly after the run."""
    from pyspark.sql import functions as F

    from tiflow_spark.codecs.avro import decode_avro, encode_avro
    from tiflow_spark.operators import filters as flt
    from tiflow_spark.operators import transforms as tfm
    from tiflow_spark.operators.dispatchers import dispatch
    from tiflow_spark.sinks.mq import consume_file_broker, produce_file_broker
    from tiflow_spark.streaming.consumer import replay_avro_broker_to_state

    plan = run.plan
    pool = plan["pool"]
    events = spec.MQ_FILES_PER_OP * plan["events_per_file"]
    session_s = run.start_session()
    spark, tr = run.spark, run.tracer

    def changes(files: list[str]):
        env = spark.read.parquet(*files)
        routed = tfm.route(flt.apply_filters(env, CFG), CFG)
        # the Kafka topic addresses the routed table
        return tfm.split_updates(
            routed.withColumn("schema", F.col("target_schema"))
            .withColumn("table", F.col("target_table"))
            .drop("target_schema", "target_table")
        )

    def op(k: int, label: str) -> tuple[float, str, str]:
        broker, state = run.path("broker", label), run.path("consumer", label)
        t0 = time.perf_counter()
        with tr.span("mq.op", "mq", label):
            with tr.span("operators.plan", "operators"):
                split = changes(pool[k])
                d = dispatch(split, MQ_CFG, num_partitions=spec.MQ_PARTITIONS)
            with tr.span("codecs.encode_avro", "codecs"):
                msgs = encode_avro(split).join(
                    d.select("commit_ts", "seq", "topic", "partition"), ["commit_ts", "seq"]
                )
            with tr.span("mq.produce_file_broker", "mq"):
                produce_file_broker(msgs, broker, batch_id=k)
            with tr.span("consumer.replay_avro_broker_to_state", "consumer"):
                replay_avro_broker_to_state(spark, broker).write.mode("overwrite").parquet(state)
        took = time.perf_counter() - t0
        run.log(f"{label} {took:.1f}s")
        run.checks.append({"kind": "state", "label": label, "exp": f"batch{k}",
                           "got": f"{state}/*.parquet", "consumer": True})
        return took, broker, state

    # warm-up on disjoint input: ops and sync_diff passes
    setup_s = session_s
    for k in range(spec.MQ_WARMUP_OPS):
        took, _, state = op(k, f"warmup{k}")
        setup_s += took + run.validate(
            lambda: spark.read.parquet(state), f"batch{k}", f"warmup{k}"
        )
    run.log(f"warm-up done, setup {setup_s:.1f}s")

    jit_setup = run.mark_timed()
    timed_start = time.time()
    lats, val_rates = [], []
    for n in range(plan["n_ops"]):
        k = spec.MQ_WARMUP_OPS + n % spec.MQ_POOL
        took, broker, state = op(k, f"op{n}")
        run.attempted += 1
        lats.append(took)
        val_rates.append(plan["exp"][f"batch{k}"]["upstream_rows"] / run.validate(
            lambda: spark.read.parquet(state), f"batch{k}", f"op{n}"
        ))

    L = run.layer
    L["gen.events"] = events * plan["n_ops"]
    L["gen.files"] = plan["n_ops"] * spec.MQ_FILES_PER_OP
    if tr.enabled:
        run.attach_jobs()

        def per(name: str, key: str) -> float:
            timed = [s for s in tr.named(name) if s["start"] >= timed_start]
            return sum(s[key] for s in timed) / len(timed)

        L["mq.produce_s"] = per("mq.produce_file_broker", "dur")
        L["consumer.replay_s"] = per("consumer.replay_avro_broker_to_state", "dur")
        L["consumer.jobs"] = per("consumer.replay_avro_broker_to_state", "jobs")
        L["consumer.shuffle_bytes"] = per("consumer.replay_avro_broker_to_state", "shuffle_bytes")
        # not timed: sizes of the last op's broker and consumer state
        L["consumer.rows_out"] = spark.read.parquet(state).count()
        parts = [os.path.join(d, f) for d, _, fs in os.walk(broker)
                 for f in fs if f.endswith(".parquet")]
        L["mq.broker_files"] = len(parts)
        L["mq.broker_bytes"] = sum(os.path.getsize(p) for p in parts)
        L["codecs.wire_bytes_per_event"] = consume_file_broker(spark, broker).select(
            F.sum(F.octet_length("key") + F.octet_length("value"))
        ).first()[0] / events
        t0 = time.perf_counter()
        encode_avro(changes(pool[k])).write.format("noop").mode("overwrite").save()
        L["codecs.encode_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        decode_avro(consume_file_broker(spark, broker)).write.format("noop").mode("overwrite").save()
        L["codecs.decode_s"] = time.perf_counter() - t0
        run.operator_metrics(pool[k])
    return run.finish(
        {
            "setup_s": setup_s,
            "events_per_s": events / median(lats),
            "validate_rows_per_s": median(val_rates),
            "latency_p50_s": pct(lats, 50),
            "latency_p90_s": pct(lats, 90),
        },
        timed_start, jit_setup,
    )


WORKLOADS = {
    "changefeed_apply": changefeed_apply,
    "mq_avro_replay": mq_avro_replay,
}


def main(argv: list[str]) -> int:
    if argv[0] == "baseline":
        baseline_main(*argv[1:])
        return 0
    plan_path, result_path = argv
    with open(plan_path) as f:
        plan = json.load(f)
    run = Run(plan, plan["trace"])
    workload, seed = plan["workload"], plan["seed"]
    try:
        e2e = WORKLOADS[workload](run)
        info = run.env_info()
        if run.tracer.enabled:
            run.tracer.dump(
                os.path.join(os.path.dirname(result_path), f"spans-{workload}-{seed}.json"),
                {"workload": workload, "seed": seed, "env": info},
            )
    finally:
        run.tracer.unwrap_all()
        if run.spark is not None:
            run.spark.stop()
    with open(result_path, "w") as f:
        json.dump({"attempted": run.attempted, "failed": run.failed, "e2e": e2e,
                   "layer": run.layer, "env": info, "checks": run.checks,
                   "notes": run.notes}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
