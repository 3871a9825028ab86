"""Seeded inputs for the keyed-table workloads, and the DuckDB oracle that
derives the expected table from the same inputs.

The generator keeps its own model of which keys are live, so that every
batch updates keys that exist, inserts keys that do not and deletes keys
that exist. The oracle replays the batches in SQL; it never calls the
engine, so the expected snapshot does not depend on the code it checks.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COLS = ("key", "ts", "day", "amount", "qty", "score", "payload")
DAYS = 64
TOUCHED_DAYS = 8
BASE_TS = 10**9  # every commit's ts is above every bootstrap ts
MERGE_DELETE_SHARE = 0.1  # matched MERGE rows that carry the delete flag

# merge_into arguments used by every MERGE commit; the oracle mirrors them
MERGE_KWARGS = {
    "update_set": {"ts": "s.ts", "amount": "s.amount", "payload": "s.payload"},
    "delete_condition": "s.qty < 0",
}

_HEX = np.frombuffer(b"0123456789abcdef", np.uint8)


@dataclass
class Commit:
    kind: str  # upsert | upsert_partial | delete | merge
    path: str
    rows: int
    nbytes: int
    commit_time: str
    timed: bool


@dataclass
class Inputs:
    source: str
    commits: list[Commit]
    lookups: list[str]


def _rows(rng, keys, days, ts, partial: bool = False) -> pa.Table:
    n = len(keys)
    payload = _HEX[rng.integers(0, 16, size=(n, 64), dtype=np.uint8)]
    cols = {
        "key": pa.array(keys, pa.int64()),
        "ts": pa.array(np.full(n, ts) if np.ndim(ts) == 0 else ts, pa.int64()),
        "day": pa.array(days, pa.int32()),
        "amount": pa.array(rng.integers(0, 10**7, n) / 100.0),
        "qty": pa.array(rng.integers(0, 100, n), pa.int32()),
        "score": pa.array(rng.random(n)),
        "payload": pa.array(payload.view("S64").ravel()).cast(pa.string()),
    }
    if partial:  # a partial update sets ts and amount only
        for c in ("qty", "score", "payload"):
            cols[c] = pa.nulls(n, cols[c].type)
    return pa.table(cols)


def generate(
    root: str,
    seed: int,
    rows: int,
    batch_rows: int,
    kinds: list[tuple[str, bool]],
    lookups: int,
    lookup_keys: int,
) -> Inputs:
    """Write the bootstrap source, one parquet batch per ``(kind, timed)``
    entry of *kinds*, and *lookups* key batches, all under *root*."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    capacity = rows + len(kinds) * batch_rows
    day_of = np.empty(capacity, np.int32)
    day_of[:rows] = rng.integers(0, DAYS, rows)
    live = np.zeros(capacity, bool)
    live[:rows] = True
    source = os.path.join(root, "source.parquet")
    pq.write_table(
        _rows(rng, np.arange(rows), day_of[:rows], rng.integers(0, BASE_TS, rows)),
        source,
    )
    # batches lean toward the newest days, as real ingest does
    weights = 1.0 + 3.0 * (np.arange(DAYS) / (DAYS - 1)) ** 2
    weights /= weights.sum()
    per_day = batch_rows // 2 // TOUCHED_DAYS
    next_key, next_absent = rows, -1
    commits = []
    for i, (kind, timed) in enumerate(kinds, start=1):
        days = np.sort(rng.choice(DAYS, TOUCHED_DAYS, replace=False, p=weights))
        pools = [np.flatnonzero(live[:next_key] & (day_of[:next_key] == d)) for d in days]
        old = np.concatenate([rng.choice(p, min(per_day, len(p)), replace=False)
                              for p in pools])
        other_days = np.repeat(days, per_day)
        if kind == "delete":
            # the other half names keys that were never written
            other = np.arange(next_absent, next_absent - len(other_days), -1)
            next_absent -= len(other_days)
            live[old] = False
        else:
            other = np.arange(next_key, next_key + len(other_days))
            next_key += len(other_days)
            day_of[other] = other_days
            live[other] = True
        ts = BASE_TS + i
        batch = pa.concat_tables([
            _rows(rng, old, day_of[old], ts, partial=kind == "upsert_partial"),
            _rows(rng, other, other_days, ts),
        ])
        if kind == "merge":
            flag = rng.random(len(old)) < MERGE_DELETE_SHARE
            live[old[flag]] = False
            qty = batch.column("qty").to_numpy().copy()
            qty[: len(old)][flag] = -1
            batch = batch.set_column(COLS.index("qty"), "qty", pa.array(qty, pa.int32()))
        path = os.path.join(root, f"batch-{i:03d}-{kind}.parquet")
        pq.write_table(batch, path)
        commits.append(Commit(kind, path, batch.num_rows, os.path.getsize(path),
                              f"20240101{i:09d}", timed))
    live_keys = np.flatnonzero(live[:next_key])
    dead = np.setdiff1d(np.arange(next_key), live_keys)
    lookup_paths = []
    for j in range(lookups):
        n_absent = lookup_keys // 10
        absent = rng.choice(dead, n_absent, replace=False) if len(dead) >= n_absent \
            else np.arange(next_key, next_key + n_absent)
        keys = np.concatenate([
            rng.choice(live_keys, lookup_keys - n_absent, replace=False), absent])
        path = os.path.join(root, f"lookup-{j:03d}.parquet")
        pq.write_table(pa.table({"key": pa.array(rng.permutation(keys), pa.int64())}), path)
        lookup_paths.append(path)
    return Inputs(source, commits, lookup_paths)


class Oracle:
    """The expected table, kept in DuckDB and advanced batch by batch."""

    def __init__(self, source: str, tmp: str):
        self.con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB",
                                          "temp_directory": tmp})
        self.con.execute(
            f"CREATE TABLE t AS SELECT {', '.join(COLS)} FROM read_parquet('{source}')"
        )

    def apply(self, commit: Commit) -> None:
        cols = ", ".join(COLS)
        sql = self.con.execute
        sql(f"CREATE OR REPLACE TEMP TABLE b AS SELECT * FROM read_parquet('{commit.path}')")
        sql("CREATE OR REPLACE TEMP TABLE m AS SELECT key FROM b SEMI JOIN t USING (key)")
        if commit.kind == "upsert":
            sql("DELETE FROM t WHERE key IN (SELECT key FROM m)")
            sql(f"INSERT INTO t SELECT {cols} FROM b")
        elif commit.kind == "upsert_partial":
            sets = ", ".join(f"{c} = coalesce(b.{c}, t.{c})" for c in COLS[3:])
            sql(f"UPDATE t SET ts = b.ts, {sets} FROM b WHERE t.key = b.key")
            sql(f"INSERT INTO t SELECT {cols} FROM b ANTI JOIN m USING (key)")
        elif commit.kind == "delete":
            sql("DELETE FROM t WHERE key IN (SELECT key FROM m)")
        elif commit.kind == "merge":
            sets = ", ".join(
                f"{c} = {e.replace('s.', 'b.')}"
                for c, e in MERGE_KWARGS["update_set"].items()
            )
            sql("DELETE FROM t WHERE key IN (SELECT key FROM b WHERE qty < 0)")
            sql(f"UPDATE t SET {sets} FROM b WHERE t.key = b.key")
            sql(f"INSERT INTO t SELECT {cols} FROM b ANTI JOIN m USING (key)")
        else:
            raise ValueError(f"unknown commit kind {commit.kind!r}")

    def mismatch(self, actual, keys_path: str | None = None,
                 drop_one: bool = False) -> str | None:
        """Compare *actual* (an Arrow table or a dict of column lists) with
        the expected rows, all of them or those of the keys in *keys_path*,
        as multisets of exact values. *drop_one* removes one expected row.
        Returns what differs, or None."""
        where = f" WHERE key IN (SELECT key FROM read_parquet('{keys_path}'))" \
            if keys_path else ""
        expected = f"SELECT {', '.join(COLS)} FROM t{where}"
        if drop_one:
            expected += " ORDER BY key OFFSET 1"
        self.con.register("actual", pa.table(actual) if isinstance(actual, dict) else actual)
        try:
            n_exp, n_got, missing, extra = self.con.execute(f"""
                WITH e AS ({expected}), a AS (SELECT {', '.join(COLS)} FROM actual)
                SELECT (SELECT count(*) FROM e), (SELECT count(*) FROM a),
                       (SELECT count(*) FROM (FROM e EXCEPT ALL FROM a)),
                       (SELECT count(*) FROM (FROM a EXCEPT ALL FROM e))""").fetchone()
        finally:
            self.con.unregister("actual")
        if missing or extra:
            return (f"expected {n_exp} rows, got {n_got}: {missing} expected rows "
                    f"missing, {extra} unexpected")
        return None

    def write_snapshot(self, path: str) -> int:
        """Write the expected table once as parquet; return its bytes."""
        self.con.execute(f"COPY t TO '{path}' (FORMAT PARQUET, COMPRESSION SNAPPY)")
        return os.path.getsize(path)
