"""Checks of the benchmark's own parts; no Spark session needed.

Run from the root of a checkout: ``python3 -m pytest cdcbench -q``.
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb
import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from loadgen import AMOUNT_MAX, STATUSES, LoadGen, Mix, land  # noqa: E402
from oracle import (  # noqa: E402
    expected_snapshot,
    registry_mismatch,
    snapshot_mismatches,
    violating_rows,
)
from spans import Span, Tracer, covered  # noqa: E402

GATE = (0.0, AMOUNT_MAX)


def _land_run(seed: int, out: str, batches: int = 3) -> tuple[LoadGen, list[str]]:
    gen = LoadGen(seed, ["orders", "t01", "t02"])
    files = [land(gen.batch({"orders": 500, "t01": 60, "t02": 30}, None), out, 0).path]
    for i in range(1, batches + 1):
        counts = {"orders": 300, "t01": 80, "t02": 20}
        files.append(land(gen.batch(counts, Mix(violate=0.02)), out, i).path)
    return gen, files


def _model_snapshot(gen: LoadGen) -> pa.Table:
    parts = []
    for name, m in gen.models.items():
        ids = m.live_ids()
        parts.append(
            pa.table(
                {
                    "t": [name] * len(ids),
                    "id": ids,
                    "grp": m.cols["grp"][ids],
                    "status": STATUSES[m.cols["status"][ids]],
                    "amount": m.cols["amount"][ids],
                    "qty": m.cols["qty"][ids],
                }
            )
        )
    return pa.concat_tables(parts)


def _digest(files: list[str]) -> list[str]:
    return [hashlib.sha256(open(f, "rb").read()).hexdigest() for f in files]


def test_seed_fixes_the_landed_files(tmp_path):
    _, a = _land_run(7, str(tmp_path / "a"))
    _, b = _land_run(7, str(tmp_path / "b"))
    _, c = _land_run(8, str(tmp_path / "c"))
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_batches_carry_redeliveries_deletes_and_violations(tmp_path):
    gen, files = _land_run(3, str(tmp_path))
    con = duckdb.connect()
    dup, dels, bad = con.sql(
        f"""SELECT count(*) - count(DISTINCT seq),
                   count(*) FILTER (WHERE data.metadata.is_delete),
                   count(*) FILTER (WHERE data.row.amount < 0)
            FROM read_parquet({files!r})"""
    ).fetchone()
    assert dup > 0 and dels > 0 and bad > 0
    assert violating_rows(con, files, GATE) == bad


def test_oracle_agrees_with_the_generator_model(tmp_path):
    gen, files = _land_run(5, str(tmp_path))
    expected = expected_snapshot(duckdb.connect(), files, GATE)
    assert expected.num_rows > 0
    assert snapshot_mismatches(expected, _model_snapshot(gen)) == 0


def test_a_planted_wrong_row_is_caught(tmp_path):
    gen, files = _land_run(5, str(tmp_path))
    expected = expected_snapshot(duckdb.connect(), files, GATE)
    good = _model_snapshot(gen)
    amount = good.column("amount").to_numpy().copy()
    amount[17] += 0.01
    wrong = good.set_column(good.schema.get_field_index("amount"), "amount", pa.array(amount))
    assert snapshot_mismatches(expected, wrong) == 2
    assert snapshot_mismatches(expected, good.slice(1)) == 1
    assert snapshot_mismatches(expected, pa.concat_tables([good, good.slice(0, 1)])) == 1


def test_a_planted_wrong_registry_row_is_caught():
    con = duckdb.connect()
    sql = "SELECT * FROM (VALUES (1, 'a'), (2, 'b')) AS v(k, s)"
    assert registry_mismatch(con, sql, ["k", "s"], [(2, "b"), (1, "a")]) is None
    assert registry_mismatch(con, sql, ["k", "s"], [(1, "a"), (2, "c")]) == "values differ"
    assert registry_mismatch(con, sql, ["k", "s"], [(1, "a")]).startswith("rowcount")
    assert registry_mismatch(con, sql, ["k", "x"], [(1, "a"), (2, "b")]).startswith("schema")


def test_self_time_subtracts_the_union_of_children():
    parent = Span(0, "p", None, 0, 0.0, 10.0)
    kids = [
        Span(1, "a", 0, 0, 1.0, 4.0),
        Span(2, "b", 0, 0, 3.0, 5.0),  # overlaps a
        Span(3, "c", 0, 0, 9.0, 12.0),  # runs past the parent
    ]
    assert covered(parent, kids) == pytest.approx(5.0)


def test_tracer_nests_spans_and_labels_jobs():
    class Ctx:
        def __init__(self):
            self.descriptions = []

        def setJobDescription(self, d):
            self.descriptions.append(d)

    class Spark:
        sparkContext = Ctx()

    tracer = Tracer(Spark(), enabled=True)
    with tracer.span("outer", batch=4):
        traced = tracer.wrap("inner", lambda table, x: x + 1, tag_arg=0)
        assert traced("T", 1) == 2
    outer, inner = tracer.spans
    assert (inner.parent, inner.batch, inner.tag) == (outer.id, 4, "T")
    assert Spark.sparkContext.descriptions == ["outer#0", "inner#1", "outer#0", None]
    assert tracer.self_seconds()[outer.id] == pytest.approx(outer.seconds - inner.seconds)
