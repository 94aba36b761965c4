"""Seeded load generator for the CDC benchmark workloads.

Everything here is plain numpy + pyarrow: the program under test only
ever sees the parquet files this module lands. The same seed gives the
same files byte for byte; a different seed gives different ones.

The generator keeps a model of every table (the latest row per key), so
a reader's point lookup or aggregate can be checked against it without
asking the program.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATABASE = "bench"
STATUSES = np.array(["NEW", "OPEN", "PAID", "SHIPPED", "CLOSED"])
ROW_TYPE = pa.struct(
    [
        ("id", pa.int64()),
        ("grp", pa.int32()),
        ("status", pa.string()),
        ("amount", pa.float64()),
        ("qty", pa.int32()),
    ]
)
DATA_TYPE = pa.struct(
    [
        ("database_name", pa.string()),
        ("table_name", pa.string()),
        ("full_table_name", pa.string()),
        ("primary_key", pa.string()),
        ("row", ROW_TYPE),
        ("old_row", ROW_TYPE),
        ("metadata", pa.struct([("is_delete", pa.bool_())])),
    ]
)
ENVELOPE = pa.schema([("data", DATA_TYPE), ("seq", pa.int64())])
# inserts and updates carry amount in [0, AMOUNT_MAX]; Mix.violate plants
# negative amounts that the CDC workload's in_range gate rejects
AMOUNT_MAX = 100_000.0


@dataclass(frozen=True)
class Mix:
    """Share of each change kind in a batch; the rest are updates of
    uniformly drawn live keys."""

    insert: float = 0.05
    delete: float = 0.02
    redeliver: float = 0.01  # of the previous batch, delivered again
    violate: float = 0.0  # of inserts and updates, with amount < 0


class TableModel:
    """Latest row of every key of one table, in dense arrays (keys are
    0..next_id-1), as the program should hold it after the last batch."""

    def __init__(self, name: str):
        self.name = name
        self.next_id = 0
        self.live = np.zeros(0, bool)
        self.cols = {
            "grp": np.zeros(0, np.int32),
            "status": np.zeros(0, np.int8),
            "amount": np.zeros(0, np.float64),
            "qty": np.zeros(0, np.int32),
        }

    def grow(self, n: int) -> None:
        """Make room for keys below ``n``."""
        if n > len(self.live):
            cap = max(n, 2 * len(self.live))
            self.live = np.concatenate([self.live, np.zeros(cap - len(self.live), bool)])
            for c, a in self.cols.items():
                self.cols[c] = np.concatenate([a, np.zeros(cap - len(a), a.dtype)])

    def live_ids(self) -> np.ndarray:
        return np.flatnonzero(self.live)

    def apply(self, ids: np.ndarray, is_del: np.ndarray, vals: dict) -> None:
        """Apply events in seq order: the last event per key wins."""
        self.grow(self.next_id)
        last = len(ids) - 1 - np.unique(ids[::-1], return_index=True)[1]
        k = ids[last]
        self.live[k] = ~is_del[last]
        for c, a in self.cols.items():
            a[k] = vals[c][last]

    def row(self, key: int) -> tuple | None:
        if key >= len(self.live) or not self.live[key]:
            return None
        c = self.cols
        return (
            key,
            int(c["grp"][key]),
            str(STATUSES[c["status"][key]]),
            float(c["amount"][key]),
            int(c["qty"][key]),
        )

    def count_and_sum(self) -> tuple[int, float]:
        return int(self.live.sum()), float(self.cols["amount"][self.live].sum())


@dataclass(frozen=True)
class Batch:
    """One landed batch: where it is and the denominators it carries."""

    path: str
    rows: int
    bytes: int


class LoadGen:
    """Generate, land and model the changes of N tables sharing one
    envelope stream."""

    def __init__(self, seed: int, tables: list[str]):
        self.rng = np.random.default_rng(seed)
        self.seq = 0
        self.models = {t: TableModel(t) for t in tables}
        self.last_batch: pa.Table | None = None

    def _values(self, n: int, violate: float) -> dict[str, np.ndarray]:
        rng = self.rng
        amount = np.round(rng.uniform(0.0, AMOUNT_MAX, n), 2)
        if violate:
            bad = rng.random(n) < violate
            amount[bad] = -np.round(rng.uniform(1.0, 100.0, int(bad.sum())), 2)
        return {
            "grp": rng.integers(0, 100, n).astype(np.int32),
            "status": rng.integers(0, len(STATUSES), n).astype(np.int8),
            "amount": amount,
            "qty": rng.integers(1, 50, n).astype(np.int32),
        }

    @staticmethod
    def _rows(ids: np.ndarray, vals: dict, null: np.ndarray) -> pa.StructArray:
        return pa.StructArray.from_arrays(
            [
                pa.array(ids, pa.int64()),
                pa.array(vals["grp"], pa.int32()),
                pa.array(STATUSES[vals["status"]], pa.string()),
                pa.array(vals["amount"], pa.float64()),
                pa.array(vals["qty"], pa.int32()),
            ],
            fields=list(ROW_TYPE),
            mask=pa.array(null, pa.bool_()),
        )

    def _table_events(self, m: TableModel, n: int, mix: Mix | None) -> pa.Table:
        """``n`` changes to table ``m`` (all inserts when ``mix`` is None),
        applied to the model as the DQ gate would let them through."""
        rng = self.rng
        live = m.live_ids()
        if mix is None or not len(live):
            n_ins, n_del = n, 0
        else:
            n_ins = int(round(n * mix.insert))
            n_del = min(int(round(n * mix.delete)), len(live) - 1)
        n_upd = n - n_ins - n_del
        ins = np.arange(m.next_id, m.next_id + n_ins, dtype=np.int64)
        m.next_id += n_ins
        upd = live[rng.integers(0, len(live), n_upd)] if n_upd else ins[:0]
        dels = rng.choice(live, n_del, replace=False) if n_del else ins[:0]
        ids = np.concatenate([ins, upd, dels])
        kind = np.repeat(np.array([0, 1, 2], np.int8), [n_ins, n_upd, n_del])
        order = rng.permutation(len(ids))
        ids, kind = ids[order], kind[order]
        is_del = kind == 2
        vals = self._values(len(ids), mix.violate if mix else 0.0)
        # before-image: the key's row as of the start of this batch
        m.grow(m.next_id)
        had = (kind != 0) & m.live[ids]
        old = {c: a[ids] for c, a in m.cols.items()}
        passed = is_del | (vals["amount"] >= 0)
        m.apply(ids[passed], is_del[passed], {c: v[passed] for c, v in vals.items()})

        seqs = np.arange(self.seq, self.seq + len(ids), dtype=np.int64)
        self.seq += len(ids)
        k = len(ids)
        data = pa.StructArray.from_arrays(
            [
                pa.array(np.full(k, DATABASE)),
                pa.array(np.full(k, m.name)),
                pa.array(np.full(k, f"{DATABASE}.{m.name}")),
                pa.array(ids.astype(str)),
                self._rows(ids, vals, is_del),
                self._rows(ids, old, ~had),
                pa.StructArray.from_arrays([pa.array(is_del)], names=["is_delete"]),
            ],
            fields=list(DATA_TYPE),
        )
        return pa.table({"data": data, "seq": seqs}, schema=ENVELOPE)

    def batch(self, counts: dict[str, int], mix: Mix | None) -> pa.Table:
        """One envelope batch of ``counts[table]`` changes per table.
        ``mix=None`` is a base load: inserts only, no redelivery."""
        parts = [
            self._table_events(self.models[t], n, mix) for t, n in counts.items() if n
        ]
        if mix is not None and self.last_batch is not None and mix.redeliver:
            prev = self.last_batch
            k = int(round(prev.num_rows * mix.redeliver))
            parts.insert(0, prev.take(np.sort(self.rng.choice(prev.num_rows, k, replace=False))))
        out = pa.concat_tables(parts).combine_chunks()
        self.last_batch = out
        return out


def land(table: pa.Table, directory: str, index: int) -> Batch:
    """Write one batch as ``b<index>.parquet`` under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    path = os.path.join(directory, f"b{index:05d}.parquet")
    pq.write_table(table, path)
    return Batch(path, table.num_rows, os.path.getsize(path))
