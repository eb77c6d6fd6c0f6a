"""Correctness side of the benchmark: the result fingerprint and the checks
that do not use the engine's own kernels.

* ``fingerprint`` is the timed action of every batch query: the row count
  and the sum of ``pmod(xxhash64(all columns), 2^31)``, computed on the
  cluster so every output column materializes.  ``pmod`` keeps each term
  below 2^31, so the sum of up to 2^32 rows cannot overflow a long (a
  plain ``sum(xxhash64)`` overflows under Spark's ANSI mode).
* ``skyline_mask_ref`` and ``snapshot_violations`` check stream answers in
  plain numpy, independently of ``operators.skyline_kernel``.
"""

from __future__ import annotations

import numpy as np

_HASH_MOD = 1 << 31


def _hash_col(df):
    from pyspark.sql import functions as F

    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    return F.pmod(F.xxhash64(*cols), F.lit(_HASH_MOD))


def fingerprint(df) -> tuple[int, int]:
    """(rows, hash sum) of ``df`` over every output column."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(_hash_col(df)), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def row_hashes(df, id_col: str = "id") -> np.ndarray:
    """Per-row fingerprint terms of ``df`` indexed by its dense 0-based
    ``id_col``: the fingerprint of any subset of rows is then the sum of
    these terms over the subset's ids."""
    tbl = df.select(df[id_col].alias("id"), _hash_col(df).alias("h")).toArrow()
    ids = tbl.column("id").to_numpy()
    out = np.zeros(int(ids.max()) + 1 if len(ids) else 0, dtype=np.int64)
    out[ids] = tbl.column("h").to_numpy()
    return out


def dominated_by(cand: np.ndarray, ref: np.ndarray, chunk_elems: int = 1 << 22) -> np.ndarray:
    """Mask over ``cand`` rows strictly dominated (all <=, one <; minimized)
    by some ``ref`` row."""
    out = np.zeros(len(cand), dtype=bool)
    if not len(cand) or not len(ref):
        return out
    cols = [np.ascontiguousarray(ref[:, k]) for k in range(ref.shape[1])]
    step = max(1, chunk_elems // len(ref))
    for i in range(0, len(cand), step):
        c = cand[i : i + step]
        le = lt = None
        # one 2-D comparison per dimension: reducing over a length-d axis
        # of a 3-D array is several times slower
        for k, rk in enumerate(cols):
            ck = c[:, k, None]
            le = rk <= ck if le is None else le & (rk <= ck)
            lt = rk < ck if lt is None else lt | (rk < ck)
        out[i : i + step] = (le & lt).any(axis=1)
    return out


def skyline_mask_ref(pts: np.ndarray, block: int = 512) -> np.ndarray:
    """Reference skyline (minimized, duplicates kept) by sort-filter: in
    ascending coordinate-sum order no point is dominated by a later one,
    so each block only meets the survivors found before it and itself."""
    mask = np.zeros(len(pts), dtype=bool)
    order = np.argsort(pts.sum(axis=1), kind="stable")
    sky = np.empty((0, pts.shape[1]))
    for i in range(0, len(order), block):
        idx = order[i : i + block]
        b = pts[idx]
        keep = ~(dominated_by(b, sky) | dominated_by(b, b))
        mask[idx[keep]] = True
        sky = np.concatenate([sky, b[keep]])
    return mask


class PrefixSkyline:
    """SKY(points[0..r]) for a rising sequence of ``r``, grown incrementally
    with the reference kernel; ``advance(r)`` returns the skyline's ids."""

    def __init__(self, points: np.ndarray):
        self._pts = points
        self._ids = np.empty(0, dtype=np.int64)
        self._upto = -1

    def advance(self, r: int) -> np.ndarray:
        if r < self._upto:
            raise ValueError("triggers must be checked in rising order")
        new = np.arange(self._upto + 1, r + 1, dtype=np.int64)
        self._upto = r
        if len(new):
            new = new[~dominated_by(self._pts[new], self._pts[self._ids])]
            new = new[skyline_mask_ref(self._pts[new])]
            old = self._ids[~dominated_by(self._pts[self._ids], self._pts[new])]
            self._ids = np.concatenate([old, new])
        return self._ids


def snapshot_violations(
    points: np.ndarray, sky_ids: np.ndarray, answer: np.ndarray
) -> dict[str, int]:
    """Check a stream answer to the trigger with ``required_count`` r.

    ``points``: every generated point, row = id.  ``sky_ids``: ids of
    SKY(points[0..r]).  ``answer``: returned rows ``[id, v0, v1, ...]``.
    The engine answers over a superset snapshot (each partition releases
    once it has seen an id >= r, so later points may be in), so the checks
    are the two that hold for any snapshot between r and the newest input:

    * ``dominated``: returned points dominated by a generated point with
      id <= r (only returned points outside SKY(points[0..r]) can be; a
      dominator, if any, may be taken from that skyline by transitivity);
    * ``missing``: points of SKY(points[0..r]) neither returned nor
      dominated by a returned point;
    * ``bad_rows``: returned rows whose id is unknown or whose values differ
      from the generated point.
    """
    answer = np.asarray(answer, dtype=np.float64).reshape(-1, points.shape[1] + 1)
    ids = answer[:, 0].astype(np.int64)
    vals = answer[:, 1:]
    known = (ids >= 0) & (ids < len(points))
    bad = int((~known).sum())
    bad += int((points[ids[known]] != vals[known]).any(axis=1).sum())
    outside = ~np.isin(ids, sky_ids)
    dominated = int(dominated_by(vals[outside], points[sky_ids]).sum())
    unreturned = sky_ids[~np.isin(sky_ids, ids)]
    missing = int((~dominated_by(points[unreturned], vals)).sum())
    return {"dominated": dominated, "missing": missing, "bad_rows": bad}
