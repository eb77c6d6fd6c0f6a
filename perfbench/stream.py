"""Open-loop stream workload: ``streamgen`` writes data and trigger files on
a fixed schedule while ``streaming.pipeline.run_pipeline`` reads both
directories as file streams and hands each answer to ``on_result``.

A trigger's latency runs from the moment its file is visible until its
answer reaches ``on_result``.  After the run every answer is checked
against the generated points (``oracle.snapshot_violations``).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time

import numpy as np

from query_skyline_qos_flink_spark.streaming.pipeline import run_pipeline

from . import measure, trace
from .oracle import PrefixSkyline, snapshot_violations
from .run import ROOT, WORK
from .session import SETUPS, Outcome, Session
from .streamgen import D, DRAIN_S, LEAD_S, PER_FILE, anti_points, schedule

WORKLOADS = ("stream_anti_3d",)
PARTITIONS = 4
ANSWER_WAIT_S = 30.0


def _read_log(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.endswith("\n")]


class Answers:
    """``on_result`` sink: keeps each answer with its arrival time.  In a
    traced run it flips tracing on or off after every call, so answers
    alternate between traced and untraced micro-batches."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.lock = threading.Lock()
        self.rows: dict[str, dict] = {}

    def __call__(self, pdf) -> None:
        now = time.time()
        traced = bool(self.tracer and self.tracer.active)
        with self.lock:
            for r in pdf.to_dict("records"):
                r["arrived"], r["traced"] = now, traced
                self.rows[r["query_id"]] = r
        if self.tracer:
            self.tracer.active = not traced

    def count(self) -> int:
        with self.lock:
            return len(self.rows)


def _ingest_lag(query, log_path: str, at: float, start: float) -> float:
    """Seconds by which reading lags the newest input at wall time ``at``:
    ``at`` minus the time the newest file already read became visible."""
    read = sum(
        s["numInputRows"]
        for p in query.recentProgress
        for s in p["sources"]
        if "/stream/data" in s["description"]
    )
    files = read // PER_FILE
    if not files:
        return at - start
    visible = {e["k"]: e["visible"] for e in _read_log(log_path) if e["kind"] == "data"}
    return at - visible[files - 1]


def _progress_layers(progress: list[dict]) -> dict[str, float]:
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p["durationMs"] for p in busy]
    state = (progress[-1].get("stateOperators") or [{}])[0] if progress else {}
    return {
        "stream.batches": len(busy),
        "stream.batch_s.p50": measure.median([d.get("triggerExecution", 0) / 1e3 for d in dur]),
        "stream.add_batch_s": measure.median([d.get("addBatch", 0) / 1e3 for d in dur]),
        "stream.plan_s": measure.median([d.get("queryPlanning", 0) / 1e3 for d in dur]),
        "stream.commit_s": measure.median(
            [(d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3 for d in dur]),
        "stream.rows_per_batch": measure.median([p["numInputRows"] for p in busy]),
        "stream.state_rows": state.get("numRowsTotal", 0),
        "stream.state_bytes": state.get("memoryUsedBytes", 0),
    }


def run(name: str, seed: int, seconds: float, traced: bool) -> Outcome:
    n_lead, n_load, n_files = schedule(seconds)
    if n_load <= n_lead:
        raise ValueError(f"{name} needs --seconds above its {LEAD_S} s lead-in")
    base = os.path.join(WORK, "stream")
    for sub in ("data", "trig", "ckpt"):
        os.makedirs(os.path.join(base, sub), exist_ok=True)
    log_path = os.path.join(base, "gen.jsonl")
    health = measure.Health()
    session = Session()
    tracer = trace.Tracer() if traced else None
    answers = Answers(tracer)
    gen = query = None
    out = Outcome()
    try:
        with measure.RssSampler(session.jvm_pid) as rss:
            setups = [session.start() for _ in range(SETUPS)]
            spark = session.spark
            sc = spark.sparkContext
            if tracer:
                tracer.install()
                tracer.active = True
                sc.setJobGroup("stream/build", name)
                c0 = tracer.snapshot()
            t0 = time.perf_counter()
            query = run_pipeline(
                spark.readStream.text(os.path.join(base, "data")),
                spark.readStream.text(os.path.join(base, "trig")),
                os.path.join(base, "ckpt"),
                d=D,
                num_partitions=PARTITIONS,
                available_now=False,
                emit_points=True,
                per_pid_breakdown=True,
                on_result=answers,
            )
            build_s = time.perf_counter() - t0
            if tracer:
                build_calls = trace.delta(tracer.snapshot(), c0, "py4j.calls")
                sc.setLocalProperty("spark.jobGroup.id", None)
                tracer.active = False
            gen = subprocess.Popen(
                [sys.executable, "-m", "perfbench.streamgen", "--dir", base,
                 "--seed", str(seed), "--load", str(seconds)],
                cwd=ROOT, stdout=subprocess.PIPE, text=True,
            )
            start = float(gen.stdout.readline())
            load_end = start + seconds
            time.sleep(max(0.0, load_end - time.time()))
            lag = _ingest_lag(query, log_path, time.time(), start)
            gen.wait(timeout=seconds + DRAIN_S + 60)
            log = _read_log(log_path)
            trig = {e["qid"]: e for e in log if e["kind"] == "trigger"}
            deadline = time.time() + ANSWER_WAIT_S
            while answers.count() < len(trig) and time.time() < deadline:
                time.sleep(0.05)
            t_end = time.time()
            progress = query.recentProgress
            run_id = str(query.runId)
            query.stop()
            query = None
            if tracer:
                trace.wait_listeners(sc)
                stages = trace.group_stages(sc, run_id)
                build_jobs = trace.group_stages(sc, "stream/build")["jobs"]
            cache = trace.cache_state(sc)
    finally:
        if query is not None:
            query.stop()
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        if tracer:
            tracer.uninstall()
        session.stop()
    health.finish()

    # correctness gate, outside the timed region: triggers in rising order
    pts = anti_points(PER_FILE * n_files, D, seed)
    prefix = PrefixSkyline(pts)
    got = answers.rows
    bad, lat = [], {}
    for qid, e in sorted(trig.items(), key=lambda kv: kv[1]["required"]):
        sky = prefix.advance(e["required"])
        a = got.get(qid)
        if a is None:
            bad.append({"qid": qid, "error": "no answer"})
            continue
        lat[qid] = a["arrived"] - e["visible"]
        v = snapshot_violations(pts, sky, np.array(list(a["skyline_points"]), dtype=np.float64))
        if any(v.values()):
            bad.append({"qid": qid, **v})
    out.attempted = len(trig)
    out.failed = len(bad)

    first = min(trig, key=lambda q: trig[q]["required"])
    timed = [lat[q] for q in lat if q != first and not got[q]["traced"]] or [lat.get(first, 0.0)]
    tail_p, tail_v = measure.tail(timed)
    answered = [got[q] for q in lat]
    out.e2e = {
        "setup_s": measure.median(setups),
        "latency_s.p50": measure.p50(timed),
        "latency_s.tail": tail_v,
        "queries_per_s": len(answered) / (t_end - start) if answered else 0.0,
    }
    fixture = next(e for e in log if e["kind"] == "fixture")
    late = [e["visible"] - e["due"] for e in log if "due" in e]
    layers = {
        "cold_s": lat.get(first, 0.0),
        "peak_rss_mb": rss.peak_mb,
        "session.start_s": measure.median(setups),
        "fixture.gen_s": fixture["gen_s"],
        "fixture.rows": fixture["rows"],
        "cache.rdds": cache[0],
        "cache.bytes": cache[1],
        "rows.in": measure.median([a["record_count"] for a in answered]),
        "rows.out": measure.median([a["skyline_size"] for a in answered]),
        "rows.out_ratio": measure.median(
            [a["skyline_size"] / max(1, a["record_count"]) for a in answered]),
        "stream.local_cpu_ms": measure.median([a["local_processing_time_ms"] for a in answered]),
        "stream.optimality": measure.median([a["optimality"] for a in answered]),
        "stream.pid_skew": measure.median([
            max(b[1] for b in a["pid_breakdown"]) / np.mean([b[1] for b in a["pid_breakdown"]])
            for a in answered if len(a["pid_breakdown"])]),
        "ingest_lag_s": lag,
        "gen.late_s.max": max(late) if late else 0.0,
        "fail_ratio": out.failed / max(1, out.attempted),
        **health.layers(),
        **_progress_layers(progress),
    }
    if tracer:
        snap = tracer.snapshot()
        traced_lat = [lat[q] for q in lat if got[q]["traced"]]
        batches = max(1.0, layers["stream.batches"])
        layers.update({
            "build.s": build_s,
            "build.py4j_calls": build_calls,
            "build.jobs": build_jobs,
            **{f"stage.{k}": v / batches for k, v in stages.items() if k != "jobs"},
            "kernel.driver_calls": snap.get("kernel.calls", 0) / max(1, len(traced_lat)),
            "kernel.driver_s": snap.get("kernel.s", 0.0) / max(1, len(traced_lat)),
            "stream.finalize_s": snap.get("finalize.s", 0.0) / max(1, snap.get("finalize.calls", 0)),
        })
        if traced_lat:
            layers["trace.overhead_s"] = measure.p50(traced_lat) - out.e2e["latency_s.p50"]
    out.layers = layers
    out.detail = {
        "tail_percentile": tail_p,
        "samples": len(timed),
        "setups_s": [round(s, 4) for s in setups],
        "build_s": round(build_s, 4),
        "latencies_s": {q: round(v, 4) for q, v in sorted(lat.items())},
        "mismatches": bad,
        "health": health.record(),
        "peak_rss": rss.peak_parts,
    }
    return out
