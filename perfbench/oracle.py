"""Independent DuckDB reference for the benchmark's correctness checks.

Computes, from the generated envelope files alone, the state a changefeed
must reach: filter (the blocked table is dropped) -> route (every shard
table maps to ``accounts``) -> split (an update that changes ``id`` becomes
a delete of the old id and an insert of the new one) -> last writer per key
by ``(commit_ts, seq, op)``, deletes removed. None of this calls into
``tiflow_spark``; the SQL restates the changefeed contract from scratch.

It also builds the upstream snapshot for the sync_diff pass: the expected
state with a seeded drift whose missing/extra/different counts are known
exactly.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

from spec import BLOCKED_PREFIX, SCHEMA, TARGET_TABLE


def _files(paths: list[str]) -> str:
    return "[" + ", ".join(f"'{p}'" for p in paths) + "]"


# the filter rule the changefeed is configured with: schema bank, table audit_*
_BLOCKED = (
    f"(lower(schema) = '{SCHEMA}' "
    f"AND starts_with(lower(\"table\"), '{BLOCKED_PREFIX}'))"
)


def _split_sql(files: list[str]) -> str:
    """Kept, routed and split change rows of ``files`` as
    (op, commit_ts, seq, id, balance, note)."""
    kept = f"SELECT * FROM read_parquet({_files(files)}) WHERE NOT {_BLOCKED}"
    moved = "op = 'U' AND before.id <> after.id"
    return f"""
        WITH kept AS ({kept})
        SELECT 'D' AS op, commit_ts, seq * 2 AS seq, before.id AS id,
               NULL::DOUBLE AS balance, NULL::VARCHAR AS note
          FROM kept WHERE {moved}
        UNION ALL
        SELECT 'I', commit_ts, seq * 2 + 1, after.id, after.balance, after.note
          FROM kept WHERE {moved}
        UNION ALL
        SELECT op, commit_ts, seq * 2, coalesce(after.id, before.id),
               after.balance, after.note
          FROM kept WHERE NOT ({moved})
    """


def _last_writer_sql(changes: str) -> str:
    return f"""
        SELECT id, balance, note FROM (
          SELECT *, row_number() OVER (
              PARTITION BY id ORDER BY commit_ts DESC, seq DESC,
              CASE op WHEN 'D' THEN 0 WHEN 'U' THEN 1 ELSE 2 END DESC) AS rn
          FROM ({changes}))
        WHERE rn = 1 AND op <> 'D'
    """


class Oracle:
    def __init__(self, temp_dir: str) -> None:
        self.db = duckdb.connect()
        self.db.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.db.execute(f"SET temp_directory = '{temp_dir}'")

    def close(self) -> None:
        self.db.close()

    def expected_state(
        self, files: list[str], seed_file: str | None, out_path: str
    ) -> None:
        """Write the expected final state (id, balance, note) to parquet.
        ``seed_file`` holds the target's seeded rows (``seq`` below every
        event's), or None for a consumer that starts from nothing."""
        changes = _split_sql(files)
        if seed_file is not None:
            changes = (
                f"{changes} UNION ALL SELECT op, commit_ts, seq, id, balance, "
                f"note FROM read_parquet('{seed_file}')"
            )
        self.db.execute(
            f"COPY ({_last_writer_sql(changes)} ORDER BY id) "
            f"TO '{out_path}' (FORMAT PARQUET)"
        )

    def upstream_with_drift(
        self, expected: str, out_path: str, per_kind: int, seed
    ) -> dict:
        """Upstream snapshot = expected state with ``per_kind`` rows each
        removed (the copy has them: extra), added (the copy lacks them:
        missing) and changed (different). Returns the injected ids by kind."""
        ids = np.array(
            [r[0] for r in self.db.execute(
                f"SELECT id FROM read_parquet('{expected}') ORDER BY id"
            ).fetchall()],
            dtype=np.int64,
        )
        rng = np.random.default_rng(seed)
        pick = rng.choice(len(ids), size=2 * per_kind, replace=False)
        extra = sorted(int(i) for i in ids[pick[:per_kind]])
        different = sorted(int(i) for i in ids[pick[per_kind:]])
        # ids the copy lacks: holes in the key space, or past its end
        free = np.setdiff1d(np.arange(int(ids.max()) + 1 + 10 * per_kind), ids)
        missing = sorted(int(i) for i in rng.choice(free, size=per_kind, replace=False))
        self.db.execute(
            f"""COPY (
              SELECT id,
                     CASE WHEN id IN ({_in(different)}) THEN balance + 1.0
                          ELSE balance END AS balance,
                     note
                FROM read_parquet('{expected}')
               WHERE id NOT IN ({_in(extra)})
              UNION ALL
              SELECT unnest([{_in(missing)}])::BIGINT, 1.5, 'drift'
              ORDER BY id
            ) TO '{out_path}' (FORMAT PARQUET)"""
        )
        return {"missing": missing, "extra": extra, "different": different}

    def count(self, path: str) -> int:
        return self.db.execute(
            f"SELECT count(*) FROM read_parquet('{path}')"
        ).fetchone()[0]

    def state_mismatches(self, expected: str, got: str) -> int:
        """Rows in one of the two (id, balance, note) sets but not the other."""
        e = f"SELECT id, balance, note FROM read_parquet('{expected}')"
        g = f"SELECT id, balance, note FROM read_parquet('{got}')"
        return self.db.execute(
            f"SELECT (SELECT count(*) FROM ({e} EXCEPT ALL {g})) + "
            f"(SELECT count(*) FROM ({g} EXCEPT ALL {e}))"
        ).fetchone()[0]

    def foreign_rows(self, got: str) -> int:
        """Consumer rows not addressed to the routed target table."""
        return self.db.execute(
            f"SELECT count(*) FROM read_parquet('{got}') WHERE schema <> "
            f"'{SCHEMA}' OR \"table\" <> '{TARGET_TABLE}'"
        ).fetchone()[0]

    def repair_matches(self, repair: str, injected: dict) -> bool:
        """The repair statements name exactly the injected (id, kind) pairs."""
        got = set(
            self.db.execute(
                f"SELECT id, kind FROM read_parquet('{repair}/*.parquet')"
            ).fetchall()
        )
        want = {(i, k) for k, ids in injected.items() for i in ids}
        return got == want


def _in(ids: list[int]) -> str:
    return ", ".join(str(i) for i in ids)
