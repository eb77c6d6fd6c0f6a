"""Session set-up shared by the workloads, and the run's outcome record."""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark import SparkContext

from query_skyline_qos_flink_spark.session import get_spark

# The fixtures come from seeded ``F.rand`` columns over ``spark.range``,
# whose values depend on the partition count; a fixed core count keeps
# them, and the answers pinned for them, identical on every run.
BENCH_CPUS = 4
SETUPS = 3


def warm_up(spark) -> None:
    """Start the Python-worker daemon and a worker per core."""
    n = BENCH_CPUS * 2
    spark.range(n).repartition(BENCH_CPUS).mapInPandas(
        lambda it: it, "id long"
    ).collect()


class Session:
    """Owns the SparkSession of a run.  ``start`` (re)starts it: the first
    call launches the JVM, later calls stop the SparkContext and build a
    new one on the same JVM."""

    def __init__(self) -> None:
        self.spark = None
        self._jvm_pid: int | None = None

    def start(self) -> float:
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=BENCH_CPUS)
        warm_up(self.spark)
        proc = self.spark.sparkContext._gateway.proc
        self._jvm_pid = proc.pid if proc is not None else None
        return time.perf_counter() - t0

    def jvm_pid(self) -> int | None:
        return self._jvm_pid

    def stop(self) -> None:
        """Clear cached data, stop the session, and end the JVM: closing its
        stdin makes the gateway exit, and the run waits until it has."""
        if self.spark is not None:
            self.spark.catalog.clearCache()
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)


@dataclass
class Outcome:
    """What a workload measured.  ``e2e`` and ``layers`` map metric names to
    values; ``detail`` is printed for people and not parsed."""

    attempted: int = 0
    failed: int = 0
    e2e: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
