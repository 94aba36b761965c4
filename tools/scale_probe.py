#!/usr/bin/env python
"""Weak- and parallel-scaling probe for registry queries.

    python tools/scale_probe.py [--mult 1 10 100] [--cpus A B] lane...

Each lane is a registry query name. ``x1`` runs on ``bench.SF_DIR``;
``xN`` runs on a weak-scaling fixture built once under ``--root``:

- documents: N key-shifted copies of the source documents with every
  ``[a-z]+`` word suffixed per copy, so each copy keeps its own
  shingle / dedup structure and copies never near-collide;
- embeddings: ``2000 * N`` fresh unit vectors, dim 64, in 10 weak
  clusters (seed ``10 + N``);
- every other table is a symlink to the source one.

Each core count runs in its own subprocess (a session's master is fixed
when it is created). Timing is bench.py's: ``warm_session``, then
``time_df`` to a noop sink, min of ``BENCH_RUNS``, with
``clear_between_queries`` after each lane. A lane whose first run takes
longer than 600 s is reported as TIMEOUT and skipped at larger
multipliers. The report gives a time per (lane, mult, cpus), the
exponent per step of multiplier, ``log(t_hi / t_lo) / log(m_hi / m_lo)``
(1.0 is linear), and the speedup from the fewest to the most cores.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import subprocess
import sys
import tempfile

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO_ROOT)

from bench import (  # noqa: E402  (bench.py owns the timing discipline)
    CPUS,
    RUNS,
    SF_DIR,
    clear_between_queries,
    time_df,
    warm_session,
)

CAP_S = 600.0
DOC_KEY_SHIFT = 10_000_000
EMB_ROWS, EMB_DIM, EMB_CLUSTERS = 2000, 64, 10
OTHER_TABLES = "region nation customer supplier part orders lineitem events".split()


def build_fixture(src_dir: str, mult: int, out_root: str) -> str:
    """Write the ``x{mult}`` fixture of ``src_dir`` under ``out_root`` and
    return its directory. Files already there are reused."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir = os.path.join(out_root, f"x{mult}")
    os.makedirs(out_dir, exist_ok=True)
    docs_out = os.path.join(out_dir, "documents.parquet")
    if not os.path.exists(docs_out):
        con = duckdb.connect()
        con.execute(
            f"""COPY (
              SELECT d.doc_id + i.r * {DOC_KEY_SHIFT} AS doc_id,
                     regexp_replace(d.text, '([a-z]+)',
                                    '\\1q' || CAST(i.r AS VARCHAR), 'g') AS text,
                     d.lang, d.source, d.n_chars
              FROM read_parquet('{src_dir}/documents.parquet') d,
                   (SELECT unnest(generate_series(0, {mult - 1})) AS r) i
            ) TO '{docs_out}.tmp' (FORMAT PARQUET)"""
        )
        con.close()
        os.replace(f"{docs_out}.tmp", docs_out)
    emb_out = os.path.join(out_dir, "embeddings.parquet")
    if not os.path.exists(emb_out):
        rng = np.random.RandomState(10 + mult)
        n = EMB_ROWS * mult
        centers = rng.randn(EMB_CLUSTERS, EMB_DIM)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        labels = rng.randint(0, EMB_CLUSTERS, n)
        x = centers[labels] + 0.6 * rng.randn(n, EMB_DIM)
        x /= np.linalg.norm(x, axis=1, keepdims=True)
        offsets = pa.array(np.arange(0, (n + 1) * EMB_DIM, EMB_DIM), pa.int32())
        tbl = pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.ListArray.from_arrays(
                    offsets, pa.array(x.astype("float32").ravel())
                ),
                "label": pa.array(labels.astype("int32"), pa.int32()),
            }
        )
        pq.write_table(tbl, f"{emb_out}.tmp")
        os.replace(f"{emb_out}.tmp", emb_out)
    for t in OTHER_TABLES:
        src, dst = os.path.join(src_dir, f"{t}.parquet"), os.path.join(out_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.lexists(dst):
            os.symlink(os.path.abspath(src), dst)
    return out_dir


def time_capped(fn) -> float | None:
    """bench.py's min-of-RUNS, or None when the first run exceeds the cap."""
    first = time_df(fn, runs=1)
    if first > CAP_S:
        return None
    return min(first, time_df(fn, runs=RUNS - 1)) if RUNS > 1 else first


def run_one(cpus: int, mults: list[int], lanes: list[str], root: str) -> dict:
    """Time every lane at every multiplier in one session on ``cpus`` cores."""
    from snowflake_cdc_spark.queries import queries
    from snowflake_cdc_spark.session import get_spark

    dirs = {m: SF_DIR if m == 1 else build_fixture(SF_DIR, m, root) for m in mults}
    spark = get_spark(app_name=f"scale_probe_c{cpus}", cpus=cpus)
    warm_session(spark)
    reg = queries()
    out: dict[str, dict[str, float | None]] = {}
    for name in lanes:
        out[name] = {}
        for m in mults:
            spark.sparkContext.setJobDescription(f"{name}@x{m}")
            t = time_capped(lambda: reg[name](spark, dirs[m]))
            clear_between_queries(spark)
            out[name][str(m)] = None if t is None else round(t, 3)
            if t is None:
                break
    return out


def report(results: dict[int, dict], mults: list[int], lanes: list[str]) -> None:
    cpus = sorted(results)

    def fmt(t):
        return "TIMEOUT" if t is None else f"{t:.2f}"

    print(f"{'lane':30s} {'mult':>5s} " + " ".join(f"{f'c{c} s':>9s}" for c in cpus)
          + (f" {'speedup':>8s}" if len(cpus) > 1 else ""))
    for name in lanes:
        for m in mults:
            ts = [results[c][name].get(str(m)) for c in cpus]
            line = f"{name:30s} {m:>5d} " + " ".join(f"{fmt(t):>9s}" for t in ts)
            if len(cpus) > 1:
                lo, hi = ts[0], ts[-1]
                line += f" {f'{lo / hi:.2f}x' if lo and hi else '?':>8s}"
            print(line)
    if len(mults) > 1:
        print("\nexponent log(t_hi/t_lo)/log(m_hi/m_lo), 1.0 = linear")
        for name in lanes:
            for m_lo, m_hi in zip(mults, mults[1:]):
                parts = []
                for c in cpus:
                    lo = results[c][name].get(str(m_lo))
                    hi = results[c][name].get(str(m_hi))
                    e = math.log(hi / lo) / math.log(m_hi / m_lo) if lo and hi else None
                    parts.append(f"c{c} {'?' if e is None else f'{e:.2f}'}")
                print(f"{name:30s} x{m_lo}->x{m_hi}  " + "  ".join(parts))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("lanes", nargs="+", help="registry query names")
    ap.add_argument("--mult", nargs="+", type=int, default=[1, 10, 100])
    ap.add_argument("--cpus", nargs="+", type=int, default=[int(CPUS)])
    ap.add_argument("--root", default=os.path.join(tempfile.gettempdir(), "scale_probe"),
                    help="where the xN fixtures are built")
    ap.add_argument("--run", type=int, help=argparse.SUPPRESS)  # one core count, in a child
    args = ap.parse_args(argv)
    mults = sorted(set(args.mult))
    if args.run:
        print("RESULT " + json.dumps(run_one(args.run, mults, args.lanes, args.root)))
        return 0
    from snowflake_cdc_spark.queries import queries

    unknown = sorted(set(args.lanes) - set(queries()))
    if unknown:
        ap.error(f"unknown lanes: {', '.join(unknown)}")
    results: dict[int, dict] = {}
    for cpus in sorted(set(args.cpus)):
        cmd = [sys.executable, os.path.abspath(__file__), "--run", str(cpus),
               "--root", args.root, "--mult", *map(str, mults), "--", *args.lanes]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        p = subprocess.run(cmd, capture_output=True, text=True, env=env, cwd=_REPO_ROOT)
        for line in p.stdout.splitlines():
            if line.startswith("RESULT "):
                results[cpus] = json.loads(line[len("RESULT "):])
        if cpus not in results:
            print(p.stdout[-2000:], p.stderr[-2000:], file=sys.stderr)
            raise SystemExit(f"no result for cpus={cpus}")
    report(results, mults, args.lanes)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
