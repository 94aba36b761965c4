"""The command-line tools under ``tools/`` import cleanly, and the scale
probe's weak-scaling fixture has the shape its exponents assume. No
Spark session: these run in seconds."""

from __future__ import annotations

import importlib
import os
import pathlib

import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE

TOOLS = sorted(
    p.stem for p in (pathlib.Path(__file__).parent.parent / "tools").glob("*.py")
)


@pytest.mark.parametrize("name", TOOLS)
def test_tool_imports(name):
    # a tool that imports a deleted helper fails here, not at its next run
    importlib.import_module(f"tools.{name}")


def test_scale_probe_fixture_doubles_documents(tmp_path):
    from tools.scale_probe import build_fixture

    out = build_fixture(SF_SMOKE, 2, str(tmp_path))
    src = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    docs = pq.read_table(os.path.join(out, "documents.parquet"))
    assert docs.num_rows == 2 * src.num_rows
    assert len(set(docs["doc_id"].to_pylist())) == docs.num_rows
    assert pq.read_table(os.path.join(out, "embeddings.parquet")).num_rows == 4000
    # a second build reuses what is there
    assert build_fixture(SF_SMOKE, 2, str(tmp_path)) == out
