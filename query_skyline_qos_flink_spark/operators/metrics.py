"""Skyline run metrics — the reference's observability surface, batch-exact.

The reference's global aggregator emits per-query metrics: skyline size,
the Optimality pruning-quality ratio and a latency decomposition
(``/root/reference/java/org.main/FlinkSkyline.java:574-650``).  Optimality
(``FlinkSkyline.java:590-608``): for each partition,
``ratio = |global-skyline rows originating from it| / |its local skyline|``;
``Optimality = sum(ratios) / P`` (never-reporting partitions count 0).

``skyline_partition_stats`` returns the integer-valued building blocks
``(pid, local_size, survivors)`` — one row per non-empty spatial partition —
from which both skyline_size (= sum(survivors)) and Optimality
(= sum(survivors/local_size)/P) derive.  Integer outputs make the duckdb
oracle comparison exact (no float-summation-order hazards).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from .fanout import fanout_narrow_scan as _fanout
from .partitioners import partition_id
from .skyline import _grouped_skyline, _merge_survivors, _prep


# scan-side pre-prune engages when session parallelism exceeds this
# multiple of the spatial partition count (see skyline_partition_stats);
# tests force the route by dropping it to 0
_PRUNE_PARALLELISM_FACTOR = 4


def with_data_domain(df: DataFrame, dim0: str, out_col: str = "__dom") -> DataFrame:
    """Attach max(dim0) as a broadcast scalar column — the data-derived
    domain (the reference's fixed ``--domain`` default silently collapses
    MR-Dim when mis-set, SURVEY.md §2.1; we derive it instead)."""
    dom = df.agg(F.max(F.col(dim0).cast("double")).alias(out_col))
    return df.crossJoin(F.broadcast(dom))


def skyline_partition_stats(
    df: DataFrame,
    dims: Sequence,
    strategy: str = "dim",
    num_partitions: int = 8,
    domain: float | Column | None = None,
) -> DataFrame:
    """(pid, local_size, survivors) per non-empty spatial partition.

    One exchange on pid for the local phase (the reference's keyBy); the
    global merge is the parallel verify from
    :func:`..skyline._merge_survivors` (it preserves every column, so the
    ``pid`` provenance tag survives the merge).  The reference merges on a
    single thread (``FlinkSkyline.java:548-566``) — exactly the bottleneck
    its own evaluation hits at 4-D anti-correlated scale (PDF §5.5); no
    single-task pass here.  The stats joins run over tiny aggregates."""
    dim_names = [d if isinstance(d, str) else d[0] for d in dims]
    if domain is None:
        df = with_data_domain(df, dim_names[0])
        domain_col: float | Column = F.col("__dom")
    else:
        domain_col = domain
    pid = partition_id(strategy, dim_names, num_partitions, domain_col)
    tagged = df.withColumn("pid", pid)
    prepped, prep_cols = _prep(tagged, dims)
    # The whole pipeline downstream (local kernel, merge, count joins)
    # reads ONLY (pid, prep dims): project before the exchange and the
    # Python boundary (guide §2.3/§4.1) — the input's payload columns
    # (13 of lineitem's 16 here) would otherwise cross the pid shuffle
    # AND the Arrow boundary twice for no reason.  Output is counts, so
    # no original column survives anyway.
    prepped = prepped.select("pid", *prep_cols)
    # The exact local phase is groupBy(pid).applyInPandas over exactly
    # ``num_partitions`` groups — P tasks no matter how many executors,
    # each funneling 1/P of the INPUT.  That is fine when the session's
    # parallelism is on the order of P (local[32] with the reference's
    # P=8: one Arrow pass, measured 2x faster than any pre-pruned
    # variant), but it cannot survive a wide cluster reading 100 TB.  So
    # when parallelism dwarfs P, a scan-side pre-prune pass runs first:
    # the skyline of a union equals the skyline of the union of
    # per-slice skylines, so a per-(task, pid) local pass is an exact
    # superset computed at FULL scan parallelism, and the exchange +
    # exact per-pid pass then carry only survivors.  Same auto-by-shape
    # policy as the skyline operator's strategy picker; both routes are
    # exact (parity-tested), only the physical plan differs.  Measured
    # at sf0.1 (6M rows, P=8): direct 1.4 s (m1) / 3.2 s (m2) vs
    # pre-pruned 3.0 / 5.5 — the crossover is parallelism, not size.
    # Re-measured round 16 AFTER the scan fan-out fix (the original
    # numbers had the prune pass single-cored by the one-split scan):
    # warm direct 1.5-1.7 / 3.8-4.1 vs pruned 2.3-2.7 / 4.1-4.6 — the
    # prune's extra full Arrow pass still loses at local[32]; the
    # adjudication stands.
    pre = prepped
    spark_parallelism = df.sparkSession.sparkContext.defaultParallelism
    if spark_parallelism > _PRUNE_PARALLELISM_FACTOR * num_partitions:
        from .skyline_kernel import skyline_mask

        def _prune_batches(batches):
            import pandas as pd

            # running per-pid skyline across the task's batches — memory
            # bounded by survivors + a compaction buffer, never the
            # task's whole input (r12 review; the _local_skyline_iter
            # shape).  Rows ACCUMULATE per pid and the kernel runs only
            # when the pending buffer outgrows the survivor set (or at
            # the end): per-Arrow-batch re-pruning over the full
            # survivor set would pay batches x survivors kernel work on
            # anti-correlated data (r12 third review).
            pend: dict = {}
            rows: dict = {}

            def compact(pid_val):
                cand = pd.concat(pend[pid_val], ignore_index=True)
                pts = cand[prep_cols].to_numpy(dtype="float64")
                mask = skyline_mask(pts)
                kept = cand if mask.all() else cand.loc[mask]
                pend[pid_val] = [kept]
                rows[pid_val] = len(kept)
                return kept

            for pdf in batches:
                if pdf.empty:
                    continue
                for pid_val, grp in pdf.groupby("pid", sort=False):
                    pend.setdefault(pid_val, []).append(grp)
                    rows[pid_val] = rows.get(pid_val, 0) + len(grp)
                    if rows[pid_val] >= max(50_000, 2 * len(pend[pid_val][0])):
                        compact(pid_val)
            for pid_val in pend:
                yield compact(pid_val)

        # the pre-prune's parallelism is the scan's split count — fan out
        # a provably single-split input first (operators/fanout.py)
        pre = _fanout(prepped).mapInPandas(_prune_batches, schema=prepped.schema)
    local = pre.groupBy("pid").applyInPandas(
        _grouped_skyline(prep_cols), schema=prepped.schema
    )
    # Eagerly checkpoint the local-skyline frame: it is TINY (one local
    # skyline per partition) but costs a full applyInPandas pass over the
    # input, and THREE consumers read it (local_sizes, the merge's
    # broadcast pulls, the survivors count through the merge filter).
    # Relying on the merge's bounded-registry persist instead let
    # back-to-back calls (m2 runs this twice, bench reps run m2 five
    # times) evict it between passes and silently re-run the heavy pass
    # per consumer — the measured 0.7 s / 5-9 s rep bimodality of
    # m2_strategy_stats (r11 verdict item 4).  A checkpoint is immune to
    # registry churn; the blocks are freed by the ContextCleaner when the
    # result DataFrame dies.
    local = local.localCheckpoint(eager=True)
    local_sizes = local.groupBy("pid").agg(F.count(F.lit(1)).alias("local_size"))
    merged = _merge_survivors(local, prep_cols)
    survivors = merged.groupBy("pid").agg(F.count(F.lit(1)).alias("survivors"))
    out = (
        local_sizes.join(survivors, "pid", "left")
        .select(
            F.col("pid").cast("int").alias("pid"),
            F.col("local_size").cast("bigint").alias("local_size"),
            F.coalesce(F.col("survivors"), F.lit(0)).cast("bigint").alias("survivors"),
        )
    )
    return out


def optimality(stats: DataFrame, num_partitions: int) -> DataFrame:
    """Scalar Optimality from :func:`skyline_partition_stats` output
    (float; kept out of the oracle-compared surface by design)."""
    return stats.agg(
        (F.sum(F.col("survivors") / F.col("local_size")) / F.lit(float(num_partitions))).alias(
            "optimality"
        ),
        F.sum("survivors").alias("skyline_size"),
    )
