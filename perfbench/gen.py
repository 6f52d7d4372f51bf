"""Seeded change-stream generator.

Produces envelope-parquet files in the shape ``read_change_stream`` expects
(``op, schema, table, commit_ts, start_ts, seq, key, before, after`` with
``before``/``after`` structs of ``id, balance, note``). Everything is drawn
from one ``numpy.random.Generator`` seeded by the caller, so the same seed
gives byte-identical inputs. The generator never imports Spark: the program
under test only ever sees the files.

Traffic dimensions (see :class:`spec.Traffic`): key count, Zipf skew of key
popularity, insert/update/delete mix, share of updates that change the
identity key (these exercise ``split_updates``), share of events on a
blocked table (these exercise the filter stack), events per file and file
cadence.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from spec import SCHEMA, TARGET_TABLE, BLOCKED_TABLE, Traffic

# One generator thread: Arrow's own CPU and IO pools pinned to one thread.
pa.set_cpu_count(1)
pa.set_io_thread_count(1)

_IMAGE = pa.struct(
    [("id", pa.int64()), ("balance", pa.float64()), ("note", pa.string())]
)
ARROW_SCHEMA = pa.schema(
    [
        ("op", pa.string()),
        ("schema", pa.string()),
        ("table", pa.string()),
        ("commit_ts", pa.int64()),
        ("start_ts", pa.int64()),
        ("seq", pa.int64()),
        ("key", pa.string()),
        ("before", _IMAGE),
        ("after", _IMAGE),
    ]
)
SEED_SCHEMA = pa.schema(
    [
        ("target_table", pa.string()),
        ("key", pa.string()),
        ("op", pa.string()),
        ("commit_ts", pa.int64()),
        ("seq", pa.int64()),
        ("id", pa.int64()),
        ("balance", pa.float64()),
        ("note", pa.string()),
    ]
)

# commit_ts of the seeded rows; every generated event commits later
SEED_TS = 1_000_000
EVENT_TS0 = 2_000_000


class ChangeStream:
    """Stateful generator: successive :meth:`batch` calls continue the same
    stream (global ``seq``, monotone ``commit_ts``, fresh identity keys)."""

    def __init__(self, traffic: Traffic, seed: int):
        if traffic.n_keys % traffic.shards:
            raise ValueError("n_keys must be a multiple of shards")
        self.t = traffic
        self.rng = np.random.default_rng(seed)
        ranks = np.arange(1, traffic.n_keys + 1, dtype=np.float64)
        cdf = np.cumsum(ranks ** -traffic.zipf_s)
        self._cdf = cdf / cdf[-1]
        # popularity rank -> key id, so hot keys spread over every chunk
        # and bucket instead of clustering at small ids
        self._perm = self.rng.permutation(traffic.n_keys)
        self._seq = traffic.n_keys  # seq values below belong to the seed
        self._moved = 0  # identity updates so far -> fresh ids
        self._ts = EVENT_TS0

    def seed_rows(self) -> pa.Table:
        """The target's initial state: every key live, one row each."""
        n = self.t.n_keys
        ids = np.arange(n, dtype=np.int64)
        return pa.table(
            {
                "target_table": pa.array([TARGET_TABLE] * n),
                "key": pa.array(ids.astype(str)),
                "op": pa.array(["I"] * n),
                "commit_ts": pa.array(np.full(n, SEED_TS, dtype=np.int64)),
                "seq": pa.array(ids),
                "id": pa.array(ids),
                "balance": pa.array(self._balances(n)),
                "note": pa.array(self._notes(n)),
            },
            schema=SEED_SCHEMA,
        )

    def _balances(self, n: int) -> np.ndarray:
        return np.round(self.rng.random(n) * 10_000.0, 2)

    def _notes(self, n: int) -> list:
        v = self.rng.integers(0, 1_000_000, n)
        null = self.rng.random(n) < 0.05
        return [None if z else f"n{x}" for x, z in zip(v.tolist(), null.tolist())]

    def batch(self, n: int, commit_ts: int | None = None) -> pa.Table:
        """``n`` events. ``commit_ts`` pins every event of the batch to one
        timestamp (live files); otherwise ``txn_events`` consecutive events
        share one, advancing 1000 per transaction."""
        t, rng = self.t, self.rng
        u = rng.random(n)
        ids = self._perm[np.searchsorted(self._cdf, u)].astype(np.int64)
        op_code = rng.choice(3, size=n, p=np.asarray(t.mix_iud))
        blocked = rng.random(n) < t.filtered_share
        moved = (op_code == 1) & (rng.random(n) < t.identity_update_share)
        moved &= ~blocked
        # a moved key gets a never-used id in the same shard (id % shards),
        # so the update stays within one shard table
        k = np.cumsum(moved) - 1 + self._moved
        new_ids = np.where(
            moved, t.n_keys + k * t.shards + ids % t.shards, ids
        ).astype(np.int64)
        self._moved += int(moved.sum())
        seq = np.arange(self._seq, self._seq + n, dtype=np.int64)
        self._seq += n
        if commit_ts is None:
            ts = self._ts + (np.arange(n) // t.txn_events) * 1000
            self._ts = int(ts[-1]) + 1000
        else:
            ts = np.full(n, commit_ts, dtype=np.int64)
            self._ts = max(self._ts, commit_ts + 1000)
        ops = np.array(["I", "U", "D"])[op_code]
        tables = np.where(
            blocked,
            BLOCKED_TABLE,
            np.char.add(TARGET_TABLE + "_", (ids % t.shards).astype(str)),
        )
        bal_old, bal_new = self._balances(n), self._balances(n)
        note_old, note_new = self._notes(n), self._notes(n)
        has_before = op_code != 0
        has_after = op_code != 2
        before = pa.StructArray.from_arrays(
            [pa.array(ids), pa.array(bal_old), pa.array(note_old)],
            fields=list(_IMAGE),
            mask=pa.array(~has_before),
        )
        after = pa.StructArray.from_arrays(
            [pa.array(new_ids), pa.array(bal_new), pa.array(note_new)],
            fields=list(_IMAGE),
            mask=pa.array(~has_after),
        )
        key = np.where(has_after, new_ids, ids).astype(str)
        return pa.table(
            {
                "op": pa.array(ops),
                "schema": pa.array(np.full(n, SCHEMA)),
                "table": pa.array(tables),
                "commit_ts": pa.array(ts),
                "start_ts": pa.array(ts - 500),
                "seq": pa.array(seq),
                "key": pa.array(key),
                "before": before,
                "after": after,
            },
            schema=ARROW_SCHEMA,
        )


def write_file(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")
