"""Pin the expected answer of every pooled batch query.

Builds each batch fixture with the engine's generator, takes Spark's
per-row fingerprint terms, and answers every query of the pool with the
DuckDB NOT-EXISTS oracle of ``functions/dominance.py``.  The expected
fingerprint of a query is the row count and the sum of the terms of the
oracle's rows.  Writes ``expected.json`` next to this file.

Usage: python3 perfbench/pin.py [workload ...]   (default: every batch workload)
Takes about ten minutes on 4 cores; rerun only when a pool or fixture changes.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from perfbench import batch, run  # noqa: E402
from perfbench.oracle import fingerprint, row_hashes  # noqa: E402
from perfbench.session import Session  # noqa: E402
from query_skyline_qos_flink_spark.functions.dominance import skyline_oracle_sql  # noqa: E402


def pin(name: str, session: Session) -> dict:
    wl = batch.WORKLOADS[name]
    fx, _ = batch.make_fixture(session.spark, wl.fixture)
    hashes = row_hashes(fx)
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.register("fx_arrow", fx.toArrow())
    con.execute("CREATE TABLE fx AS SELECT * FROM fx_arrow")
    queries = {}
    for lane in wl.pool().values():
        for q in lane:
            t0 = time.perf_counter()
            src = f"SELECT * FROM fx WHERE {q.col} >= {q.lo} AND {q.col} < {q.hi}"
            ids = con.execute(
                skyline_oracle_sql(src, list(q.dims), ["id"], "id")
            ).fetchnumpy()["id"]
            (rows_in,) = con.execute(f"SELECT count(*) FROM ({src})").fetchone()
            queries[q.key] = {
                "fp": [len(ids), int(hashes[ids].sum())],
                "rows_in": int(rows_in),
            }
            print(f"{name} {q.key}: {len(ids)} of {rows_in} rows, "
                  f"{time.perf_counter() - t0:.1f}s", flush=True)
    out = {"fixture_fp": list(fingerprint(fx)), "queries": queries}
    fx.unpersist()
    return out


def main() -> None:
    names = sys.argv[1:] or list(batch.WORKLOADS)
    pinned = {}
    if os.path.exists(batch.EXPECTED_PATH):
        with open(batch.EXPECTED_PATH) as f:
            pinned = json.load(f)
    session = Session()
    try:
        session.start()
        for name in names:
            pinned[name] = pin(name, session)
            with open(batch.EXPECTED_PATH, "w") as f:
                json.dump(pinned, f, indent=1, sort_keys=True)
                f.write("\n")
    finally:
        session.stop()


if __name__ == "__main__":
    run.prepare_environment()
    try:
        main()
    finally:
        run.cleanup()
