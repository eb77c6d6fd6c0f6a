"""Closed-loop batch workloads: one client calls ``operators.skyline.skyline``
on a persisted fixture, waits for the result fingerprint, then sends the
next query.

Both fixtures are fixed tables from ``sources.generators.points``; the run's
seed picks and orders the queries from a pool of distinct inputs whose
answers were pinned from the DuckDB NOT-EXISTS oracle (``pin.py``).  Every
query of a run has its own input, so none reuses another's persisted
intermediates.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

from query_skyline_qos_flink_spark.operators.skyline import skyline
from query_skyline_qos_flink_spark.sources.generators import points

from . import measure, trace
from .oracle import fingerprint
from .session import BENCH_CPUS, SETUPS, Outcome, Session

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


@dataclass(frozen=True)
class Query:
    key: str
    dims: tuple
    col: str
    lo: int
    hi: int  # half-open range predicate on ``col``

    def frame(self, fx):
        return fx.where((F.col(self.col) >= self.lo) & (F.col(self.col) < self.hi))


@dataclass(frozen=True)
class Workload:
    name: str
    fixture: dict  # keyword arguments of sources.generators.points

    def pool(self) -> dict[str, list[Query]]:
        raise NotImplementedError

    def sequence(self, seed: int) -> tuple[Query, list[Query]]:
        """(cold query, timed queries) for ``seed``: the lanes of the pool
        are shuffled and then taken in turn."""
        rng = random.Random(seed)
        lanes = [list(q) for q in self.pool().values()]
        for lane in lanes:
            rng.shuffle(lane)
        cold = lanes[0].pop()
        seq = []
        while any(lanes):
            for lane in lanes[::-1]:
                if lane:
                    seq.append(lane.pop())
        return cold, seq


class AntiHd(Workload):
    """Id windows of the 1M-row 4-attribute anti-correlated table.  Lane a4:
    4-D skylines of 64k-row windows, whose phase-1 survivor count (about
    14.2k) is under the 16,384-row driver-merge bound; lane b3: 3-D
    skylines of 80k-row windows (about 17.7k phase-1 survivors), which take
    the broadcast verify.  The two lanes cost about the same, so the median
    does not hinge on their mix."""

    def pool(self):
        n = self.fixture["n"]
        dims4 = ("v0", "v1", "v2", "v3")
        a4 = [Query(f"a4:{lo}", dims4, "id", lo, lo + 64_000)
              for lo in range(0, n - 64_000 + 1, 32_000)]
        b3 = [Query(f"b3:{lo}", dims4[:3], "id", lo, lo + 80_000)
              for lo in range(0, n - 80_000 + 1, 40_000)]
        return {"a4": a4, "b3": b3}


class Select2d(Workload):
    """2-D skylines with mixed min/max directions over 300-wide bands of v2
    (about 3% of the 1M-row uniform table each)."""

    DIRS = (("min", "max"), ("max", "min"), ("min", "min"), ("max", "max"))

    def pool(self):
        dom = int(self.fixture.get("domain", 10000))
        qs = []
        for k, lo in enumerate(range(0, dom - 300 + 2, 50)):
            d0, d1 = self.DIRS[k % len(self.DIRS)]
            qs.append(Query(f"s2:{lo}", (("v0", d0), ("v1", d1)), "v2", lo, lo + 300))
        return {"s2": qs}


WORKLOADS = {
    "batch_anti_hd": AntiHd(
        "batch_anti_hd",
        dict(n=1_000_000, d=4, distribution="anti_correlated", seed=42),
    ),
    "batch_2d_select": Select2d(
        "batch_2d_select", dict(n=1_000_000, d=3, distribution="uniform", seed=43)
    ),
}


def make_fixture(spark, fixture: dict):
    """Generate and persist a fixture, hash-partitioned by id over the cores:
    ``spark.range`` would leave each id window inside one partition, so
    phase 1 of its skyline would run as a single task."""
    fx = points(spark, **fixture).repartition(BENCH_CPUS, "id").persist()
    return fx, fx.count()


def _run_query(spark, fx, q: Query, tracer, label: str | None):
    """One closed-loop query.  With ``label`` the query is traced: its jobs
    run under job groups ``label/build`` and ``label/action``."""
    sc = spark.sparkContext
    if label:
        tracer.active = True
        sc.setJobGroup(f"{label}/build", q.key)
        c0 = tracer.snapshot()
    t0 = time.perf_counter()
    out = skyline(q.frame(fx), list(q.dims))
    t1 = time.perf_counter()
    if label:
        c1 = tracer.snapshot()
        sc.setJobGroup(f"{label}/action", q.key)
    fp = fingerprint(out)
    t2 = time.perf_counter()
    rec = {"key": q.key, "latency_s": t2 - t0, "build_s": t1 - t0, "action_s": t2 - t1,
           "fp": fp, "traced": bool(label)}
    if label:
        tracer.active = False
        c2 = tracer.snapshot()
        sc.setLocalProperty("spark.jobGroup.id", None)
        trace.wait_listeners(sc)
        build = trace.group_stages(sc, f"{label}/build")
        action = trace.group_stages(sc, f"{label}/action")
        rec["layers"] = {
            "build.s": t1 - t0,
            "build.py4j_calls": trace.delta(c1, c0, "py4j.calls"),
            "build.jobs": build["jobs"],
            "action.s": t2 - t1,
            "action.jobs": action["jobs"],
            **{f"stage.{k}": build[k] + action[k] for k in build if k != "jobs"},
            "kernel.driver_calls": trace.delta(c2, c0, "kernel.calls"),
            "kernel.driver_s": trace.delta(c2, c0, "kernel.s"),
        }
    rec["cache"] = trace.cache_state(sc)
    return rec


def run(name: str, seed: int, seconds: float, traced: bool) -> Outcome:
    wl = WORKLOADS[name]
    with open(EXPECTED_PATH) as f:
        pinned = json.load(f)[name]
    cold_q, seq = wl.sequence(seed)
    health = measure.Health()
    session = Session()
    tracer = trace.Tracer() if traced else None
    out = Outcome()
    records = []
    try:
        with measure.RssSampler(session.jvm_pid) as rss:
            setups = []
            for _ in range(SETUPS):
                start_s = session.start()
                t0 = time.perf_counter()
                fx, rows = make_fixture(session.spark, wl.fixture)
                setups.append((start_s, time.perf_counter() - t0, rows))
            spark = session.spark
            if tracer:
                tracer.install()
            cold = _run_query(spark, fx, cold_q, tracer, None)
            t_loop = time.perf_counter()
            for i, q in enumerate(seq):
                if time.perf_counter() - t_loop >= seconds:
                    break
                # traced runs trace every other pair of queries, so both
                # lanes of a two-lane pool are traced alike
                label = f"pb{i}" if tracer and (i // 2) % 2 == 1 else None
                try:
                    records.append(_run_query(spark, fx, q, tracer, label))
                except Exception as e:  # a failed query is counted, not fatal
                    records.append({"key": q.key, "error": repr(e), "traced": bool(label)})
            loop_s = time.perf_counter() - t_loop
            fixture_fp = fingerprint(fx)
    finally:
        if tracer:
            tracer.uninstall()
        session.stop()
    health.finish()

    # correctness gate, outside every timed region
    want = pinned["queries"]
    bad = []
    for r in [cold, *records]:
        if "error" in r or list(r["fp"]) != want[r["key"]]["fp"]:
            bad.append(r["key"])
    if list(fixture_fp) != pinned["fixture_fp"]:
        bad.append("fixture")
    out.attempted = 1 + len(records)
    out.failed = len(bad)

    done = [r for r in records if "error" not in r]
    timed = [r["latency_s"] for r in done if not r["traced"]] or [cold["latency_s"]]
    tail_p, tail_v = measure.tail(timed)
    out.e2e = {
        "setup_s": measure.median([s + g for s, g, _ in setups]),
        "latency_s.p50": measure.p50(timed),
        "latency_s.tail": tail_v,
        "queries_per_s": len(done) / loop_s,
    }
    traced_recs = [r for r in done if r["traced"]]
    # means, not medians: the two lanes of batch_anti_hd differ in kind
    # (only a4 merges on the driver), and a median would report one lane
    layers = {k: measure.mean([r["layers"][k] for r in traced_recs])
              for k in (traced_recs[0]["layers"] if traced_recs else {})}
    rows_in = [want[r["key"]]["rows_in"] for r in done]
    rows_out = [r["fp"][0] for r in done]
    layers.update({
        "cold_s": cold["latency_s"],
        "peak_rss_mb": rss.peak_mb,
        "session.start_s": measure.median([s for s, _, _ in setups]),
        "fixture.gen_s": measure.median([g for _, g, _ in setups]),
        "fixture.rows": setups[-1][2],
        "cache.rdds": max(r["cache"][0] for r in [cold, *done]),
        "cache.bytes": max(r["cache"][1] for r in [cold, *done]),
        "rows.in": measure.mean(rows_in),
        "rows.out": measure.mean(rows_out),
        "rows.out_ratio": measure.mean([o / i for o, i in zip(rows_out, rows_in)]),
        "fail_ratio": out.failed / out.attempted,
        **health.layers(),
    })
    if traced_recs:
        layers["trace.overhead_s"] = (
            measure.p50([r["latency_s"] for r in traced_recs]) - out.e2e["latency_s.p50"]
        )
    out.layers = layers
    out.detail = {
        "tail_percentile": tail_p,
        "samples": len(timed),
        "traced_samples": len(traced_recs),
        "setups_s": [[round(s, 4), round(g, 4)] for s, g, _ in setups],
        "cold": {"key": cold["key"], "latency_s": round(cold["latency_s"], 4)},
        "queries": [
            {k: (round(v, 4) if isinstance(v, float) else v)
             for k, v in r.items() if k != "layers"} for r in records
        ],
        "mismatches": bad,
        "health": health.record(),
        "peak_rss": rss.peak_parts,
    }
    return out
