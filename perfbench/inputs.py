"""Seeded benchmark inputs, generated once per (workload, size, seed).

The same seed always gives byte-identical inputs. Each input set lives in
its own directory under the benchmark's work dir and is published by an
atomic rename, so a run that dies half way never leaves a partial cache
entry behind. Generation runs in a child process (see `ensure`), so its
memory never counts toward the measured process's peak RSS.

Run directly as ``python3 perfbench/inputs.py <workload> <size> <seed> <dir>``.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
DAY_MS = 86_400_000
KEEP_SEEDS = 12  # cache entries kept per (workload, size); oldest go first

# Input sizes per workload: "run" for measurement, "tiny" for the smoke mode.
SIZES = {
    "asof_join": {
        "run": dict(events=1_000_000, queries=200_000, keys=4_000, hot_share=0.02, days=30),
        "tiny": dict(events=20_000, queries=4_000, keys=200, hot_share=0.02, days=30),
    },
    "image_asof": {
        # four row groups of the fixture's 1024 rows: with the workload's
        # 4 MB scan splits each is one decode task, one even wave on 4
        # cores. 6000 images made 5 uneven splits, and which split got the
        # extra row groups, so the wall, depended on the seed.
        "run": dict(images=4 * 1024),
        "tiny": dict(images=300),
    },
    "groupby_backfill": {
        "run": dict(events=30_000, keys=1_000, hot_share=0.02, days=30),
        "tiny": dict(events=3_000, keys=100, hot_share=0.02, days=30),
    },
}


def _day(day_index: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime((BASE_MS + day_index * DAY_MS) // 1000))


def _write_by_day(path: str, cols: dict[str, np.ndarray]) -> None:
    """One parquet file per `ds=YYYY-MM-DD` directory, rows sorted by ts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    order = np.argsort(cols["ts"], kind="stable")
    cols = {k: v[order] for k, v in cols.items()}
    day = (cols["ts"] - BASE_MS) // DAY_MS
    bounds = np.flatnonzero(np.diff(day)) + 1
    for lo, hi in zip(np.r_[0, bounds], np.r_[bounds, len(day)]):
        d = os.path.join(path, f"ds={_day(int(day[lo]))}")
        os.makedirs(d)
        pq.write_table(pa.table({k: v[lo:hi] for k, v in cols.items()}),
                       os.path.join(d, "part-0.parquet"))


def _zipf_keys(rng, n: int, keys: int, hot_share: float):
    """Key ids drawn from a Zipf(1.1) law over `keys` ids, except that the
    hot key (rank 0) holds exactly `hot_share` of the draws in expectation."""
    p = 1.0 / np.arange(1, keys + 1, dtype=np.float64) ** 1.1
    p[0] = 0.0
    p *= (1.0 - hot_share) / p.sum()
    p[0] = hot_share
    ids = rng.permutation(keys).astype(np.int64) * 7 + 1_000
    return ids[rng.choice(keys, n, p=p)], ids


def gen_events(out: str, seed: int, events: int, keys: int, hot_share: float,
               days: int, queries: int = 0) -> dict:
    rng = np.random.default_rng(seed)
    ek, ids = _zipf_keys(rng, events, keys, hot_share)
    _write_by_day(os.path.join(out, "events"), {
        "user_id": ek,
        "ts": BASE_MS + rng.integers(0, days * DAY_MS, events),
        "value": np.round(rng.gamma(2.0, 10.0, events), 2),
    })
    if queries:
        # queries spread uniformly over all keys, after a 7-day history
        _write_by_day(os.path.join(out, "queries"), {
            "user_id": ids[rng.integers(0, keys, queries)],
            "ts": BASE_MS + 7 * DAY_MS + rng.integers(0, (days - 7) * DAY_MS, queries),
        })
    return {"events": events, "queries": queries, "keys": keys, "days": days,
            "hot_key": int(ids[0]), "hot_share": hot_share,
            "first_day": _day(0), "last_day": _day(days - 1)}


def gen_images(out: str, seed: int, images: int) -> dict:
    from chronon_spark.fixtures import ensure_image_fixture

    path = ensure_image_fixture(n=images, seed=seed, out_dir=out)
    return {"images": images, "path": os.path.basename(path)}


def generate(workload: str, size: str, seed: int, out: str) -> dict:
    spec = SIZES[workload][size]
    if workload == "image_asof":
        return gen_images(out, seed, **spec)
    return gen_events(out, seed, **spec)


def ensure(root: str, workload: str, size: str, seed: int) -> tuple[str, dict]:
    """Return (dir, meta) of the cached input set, generating it in a child
    process first if it is missing."""
    base = os.path.join(root, "inputs", f"{workload}-{size}")
    path = os.path.join(base, f"seed{seed}")
    meta_file = os.path.join(path, "meta.json")
    if not os.path.exists(meta_file):
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        subprocess.run(
            [sys.executable, os.path.abspath(__file__), workload, size, str(seed), tmp],
            check=True, stdout=sys.stderr,
        )
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
        _evict(base, keep=path)
    os.utime(path)
    with open(meta_file) as f:
        return path, json.load(f)


def _evict(base: str, keep: str) -> None:
    entries = sorted(
        (os.path.join(base, e) for e in os.listdir(base)),
        key=os.path.getmtime, reverse=True,
    )
    for old in entries[KEEP_SEEDS:]:
        if old != keep:
            shutil.rmtree(old, ignore_errors=True)


if __name__ == "__main__":
    wl, sz, sd, dest = sys.argv[1:5]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    meta = generate(wl, sz, int(sd), dest)
    with open(os.path.join(dest, "meta.json"), "w") as f:
        json.dump(meta, f)
