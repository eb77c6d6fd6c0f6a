"""Open-loop input generator for the stream workload, run as a process of
its own so that it keeps its schedule however slow the engine is.

Every ``TICK`` seconds it writes one wire-format CSV file (``id,v0,v1,...``,
ids dense and rising) of ``D``-dimensional anti-correlated points into
``DIR/data``.  During the load phase, once ``LEAD_S`` seconds of data are
out, it follows every file ``k`` with a trigger file ``q<k>,<last id
written>`` in ``DIR/trig``.  The lead-in means every partition of the engine
has seen data before the first trigger: a partition that has seen none
answers at once with an empty partial (the reference's ``maxId == -1``
path).  After the load phase it keeps writing data for ``DRAIN_S`` seconds,
because each partition answers a trigger only once it has seen a later id.
Files appear by rename, so a reader never sees a partial file.

Each write is logged to ``DIR/gen.jsonl`` with the time it was due and the
time it became visible.  The first line on stdout is the schedule's start.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

D = 3
RATE = 2500.0  # points per second
TICK = 0.5  # seconds between data files
LEAD_S = 2.0  # data before the first trigger
DRAIN_S = 2.0  # data after the last trigger
PER_FILE = int(round(RATE * TICK))


def anti_points(n: int, d: int, seed: int, eps: float = 0.05, domain: float = 10000.0):
    """``n`` anti-correlated integer points in [0, domain]^d (the shape of
    ``sources.generators.points``: a random direction scaled onto a band of
    the anti-diagonal hyperplane of relative thickness ``eps``)."""
    rng = np.random.default_rng(seed)
    mean, slack = domain / 2.0 * d, eps * domain * d
    target = rng.random(n) * 2 * slack + (mean - slack)
    raw = rng.random((n, d))
    return np.clip(np.floor(raw * (target / raw.sum(axis=1))[:, None]), 0.0, domain)


def schedule(load: float) -> tuple[int, int, int]:
    """(files before the first trigger, files in the load phase, files in
    all) for a load phase of ``load`` seconds."""
    n_load = int(round(load / TICK))
    return int(round(LEAD_S / TICK)), n_load, n_load + int(round(DRAIN_S / TICK))


def _publish(path: str, tmp: str, text: str) -> float:
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)
    return time.time()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--load", type=float, required=True)
    a = ap.parse_args()

    n_lead, n_load, n_files = schedule(a.load)
    t0 = time.perf_counter()
    pts = anti_points(PER_FILE * n_files, D, a.seed).astype(np.int64)
    gen_s = time.perf_counter() - t0
    tmp = os.path.join(a.dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(os.path.join(a.dir, "gen.jsonl"), "w") as log:
        log.write(json.dumps({"kind": "fixture", "gen_s": gen_s, "rows": len(pts)}) + "\n")
        start = time.time() + 0.1
        print(start, flush=True)
        for k in range(n_files):
            due = start + k * TICK
            time.sleep(max(0.0, due - time.time()))
            lo, hi = k * PER_FILE, (k + 1) * PER_FILE
            lines = [f"{i},{','.join(map(str, p))}" for i, p in zip(range(lo, hi), pts[lo:hi].tolist())]
            visible = _publish(
                os.path.join(a.dir, "data", f"part-{k:06d}.csv"),
                os.path.join(tmp, "data.csv"),
                "\n".join(lines) + "\n",
            )
            log.write(json.dumps({"kind": "data", "k": k, "due": due, "visible": visible,
                                  "last_id": hi - 1}) + "\n")
            if n_lead <= k < n_load:
                qid = f"q{k:04d}"
                visible = _publish(
                    os.path.join(a.dir, "trig", f"{qid}.csv"),
                    os.path.join(tmp, "trig.csv"),
                    f"{qid},{hi - 1}\n",
                )
                log.write(json.dumps({"kind": "trigger", "qid": qid, "due": due,
                                      "visible": visible, "required": hi - 1}) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
