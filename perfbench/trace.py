"""Traced-run instrumentation, kept in the benchmark's own files.

The tracer wraps calls into the engine from outside:

* py4j ``send_command`` on both transports (the method of
  ``tools/profile_build.py``) counts driver round trips;
* ``skyline_mask`` / ``dominated_mask_vs_sorted`` as bound in
  ``operators.skyline`` and ``streaming.skyline_stream``, and
  ``finalize_results`` as bound in ``streaming.pipeline``, are timed when
  they run on the driver;
* Spark's status APIs give per-job stage metrics for a job group.

The wrappers replace module attributes that the engine's mapInPandas
closures capture by value when they are pickled, so Python workers call
them too.  They are therefore top-level functions of this module (pickled
by reference) that pass straight through wherever no tracer is installed:
in every worker, and in untraced runs, which never install one.
"""

from __future__ import annotations

import threading
import time

from py4j import clientserver, java_gateway

from query_skyline_qos_flink_spark.operators import skyline as _skyline_op
from query_skyline_qos_flink_spark.operators import skyline_kernel as _kernel
from query_skyline_qos_flink_spark.streaming import pipeline as _pipeline
from query_skyline_qos_flink_spark.streaming import skyline_stream as _stream

# The installed tracer of this process; None in Python workers.
_installed: "Tracer | None" = None


def _timed(name: str, fn, args, kwargs):
    tracer = _installed
    if tracer is None or not tracer.active:
        return fn(*args, **kwargs)
    t0 = time.perf_counter()
    try:
        return fn(*args, **kwargs)
    finally:
        tracer.add(name, time.perf_counter() - t0)


def skyline_mask(*args, **kwargs):
    return _timed("kernel", _kernel.skyline_mask, args, kwargs)


def dominated_mask_vs_sorted(*args, **kwargs):
    return _timed("kernel", _kernel.dominated_mask_vs_sorted, args, kwargs)


def finalize_results(*args, **kwargs):
    return _timed("finalize", _stream.finalize_results, args, kwargs)


_PATCHES = (
    (_skyline_op, "skyline_mask", skyline_mask),
    (_skyline_op, "dominated_mask_vs_sorted", dominated_mask_vs_sorted),
    (_stream, "skyline_mask", skyline_mask),
    (_pipeline, "finalize_results", finalize_results),
)
_TRANSPORTS = (clientserver.ClientServerConnection, java_gateway.GatewayConnection)


class Tracer:
    """Counters for one traced run.  ``active`` gates counting, so a traced
    run can interleave traced and untraced queries and measure its own
    overhead."""

    def __init__(self) -> None:
        self.active = False
        self._lock = threading.Lock()
        self.calls: dict[str, int] = {}
        self.seconds: dict[str, float] = {}
        self._saved: list = []

    def add(self, name: str, dt: float) -> None:
        with self._lock:
            self.calls[name] = self.calls.get(name, 0) + 1
            self.seconds[name] = self.seconds.get(name, 0.0) + dt

    def snapshot(self) -> dict[str, float]:
        with self._lock:
            out = {f"{k}.calls": v for k, v in self.calls.items()}
            out.update({f"{k}.s": v for k, v in self.seconds.items()})
        return out

    def install(self) -> None:
        global _installed
        if _installed is not None:
            raise RuntimeError("a tracer is already installed")
        for mod, name, wrapper in _PATCHES:
            self._saved.append((mod, name, getattr(mod, name)))
            setattr(mod, name, wrapper)
        for cls in _TRANSPORTS:
            orig = cls.send_command
            self._saved.append((cls, "send_command", orig))
            cls.send_command = self._counting(orig)
        _installed = self

    def uninstall(self) -> None:
        global _installed
        for owner, name, orig in reversed(self._saved):
            setattr(owner, name, orig)
        self._saved.clear()
        _installed = None

    def _counting(self, orig):
        tracer = self

        def send_command(conn, *args, **kwargs):
            if tracer.active:
                tracer.add("py4j", 0.0)
            return orig(conn, *args, **kwargs)

        return send_command


def delta(after: dict[str, float], before: dict[str, float], key: str) -> float:
    return after.get(key, 0.0) - before.get(key, 0.0)


_STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
)


def wait_listeners(sc) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the metrics of jobs that already finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def group_stages(sc, group: str) -> dict[str, float]:
    """Summed stage metrics over the jobs of job group ``group``, read from
    ``statusTracker().getJobIdsForGroup`` and
    ``statusStore().lastStageAttempt``; skipped stages are left out."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0.0, "count": 0.0, **{k: 0.0 for k, _, _ in _STAGE_FIELDS}}
    for job in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job)
        if info is None:
            continue
        for sid in info.stageIds:
            st = store.lastStageAttempt(sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["count"] += 1
            for key, attr, scale in _STAGE_FIELDS:
                out[key] += getattr(st, attr)() * scale
    out["pyworker_s"] = max(0.0, out["run_s"] - out["cpu_s"])
    return out


def cache_state(sc) -> tuple[int, int]:
    """(persisted RDDs, their memory + disk bytes)."""
    jsc = sc._jsc.sc()
    n = jsc.getPersistentRDDs().size()
    size = sum(i.memSize() + i.diskSize() for i in jsc.getRDDStorageInfo())
    return int(n), int(size)
