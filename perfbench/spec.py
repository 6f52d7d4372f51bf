"""What the workloads are: table names, traffic and sizes.

Shared by the input side (``gen``, ``inputs``, ``oracle``) and the Spark
side (``workload``); imports nothing heavier than the standard library.
Where each traffic value comes from is in perfbench/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass

SCHEMA = "bank"
TARGET_TABLE = "accounts"
# the changefeed's block rule; the bank traffic writes no table it matches,
# so the filter runs on every event and drops none
BLOCKED_PREFIX = "audit_"
BLOCKED_TABLE = BLOCKED_PREFIX + "log"
COLS = ["id", "balance", "note"]

N_BUCKETS = 32  # StreamingTarget's default
MAX_FILES_PER_TRIGGER = 8  # read_change_stream's default
LATENCY_LIMIT_S = 10.0
DRIFT_PER_KIND = 6


@dataclass(frozen=True)
class Traffic:
    """The generator's traffic dimensions."""

    n_keys: int
    zipf_s: float
    mix_iud: tuple[float, float, float]
    identity_update_share: float
    filtered_share: float
    events_per_file: int
    cadence_s: float  # 0 = backlog: every file exists before the run starts
    txn_events: int  # events sharing one commit_ts in backlog streams
    shards: int = 4


# Bank transfers (FIXTURES.md F6, tiflow's integration bank test): every
# transaction updates two accounts, no account is inserted, deleted or
# renumbered, and only bank.accounts is written. The accounts table is split
# into 4 shards routed back into one (F4).
_BANK = dict(
    zipf_s=1.2, mix_iud=(0.0, 1.0, 0.0), identity_update_share=0.0,
    filtered_share=0.0, txn_events=2,
)
TRAFFIC = {
    "changefeed_apply": Traffic(n_keys=50_000, events_per_file=4_000, cadence_s=0.5, **_BANK),
    "mq_avro_replay": Traffic(n_keys=50_000, events_per_file=12_000, cadence_s=0, **_BANK),
}

# changefeed_apply
BACKLOG_FILES = 2 * MAX_FILES_PER_TRIGGER
# warm-up: the JIT keeps speeding drains up over the first few micro-batches
# on a 4-core box, so set-up drains a disjoint backlog of the same shape twice
WARMUP_FILES = BACKLOG_FILES
WARMUP_DRAINS = 2
CATCHUP_DRAINS = 2
LIVE_WARMUP_FILES = 4  # the first live files pay the standing query's start

# mq_avro_replay
MQ_POOL = 4
MQ_WARMUP_OPS = 2
MQ_FILES_PER_OP = 4  # one input partition per core of the 4-core reference box
MQ_PARTITIONS = 8
# the op count is fixed by --seconds, so every run has the same number of
# samples: one op per 4 s, at least 4 (an op and its sync_diff pass take
# 4-6 s on the 4-core box)
MQ_OP_S = 4.0
MQ_MIN_OPS = 4


def live_files(seconds: float) -> int:
    return max(1, round(seconds / TRAFFIC["changefeed_apply"].cadence_s))


def mq_ops(seconds: float) -> int:
    return max(MQ_MIN_OPS, round(seconds / MQ_OP_S))
