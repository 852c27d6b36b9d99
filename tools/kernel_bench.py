"""Kernel micro-benchmark outside Spark: `_sawtooth_by_key`, the
mutation-replay kernel and the pixel-feature batch function on fixed
seeded inputs, timed with time.perf_counter and split by stage.

    python tools/kernel_bench.py [--repeat 7] [--fixtures DIR]

Cases (each run --repeat times; the table shows the median and the
fastest repeat, in ms, plus the median per item in us):

* ``sawtooth.image_asof``: the image_asof join kernel. The queries and
  events are the (phash, ts) rows of ``ensure_image_fixture(4096,
  seed=1)``, hashed into 32 buckets (~1 event per key), with that
  workload's COUNT 1d, COUNT lifetime and MAX lifetime parts.
* ``sawtooth.many_events``: 8 buckets of 16 keys with ~250 events each,
  with moments (SUM, AVERAGE, VARIANCE, SKEW, KURTOSIS over 1d, 7d and
  lifetime) plus MAX and LAST_K.

* ``sawtooth.grouped``: one bucket of 2000 keys with 5 events each, with
  two bucketed parts (SUM 7d and COUNT lifetime by a 4-value string
  column with nulls) and one map-input part (COUNT 7d over maps of up to
  3 of 5 keys).

  In the sawtooth cases every event row is also a query, as in the
  image_asof join and the temporal GroupBy. Stages: ``by_key`` is
  `_sawtooth_by_key` (window bounds and ops), ``emit`` turns its buffers
  into the kernel's Arrow output columns (`_to_arrow`).
* ``mutation.replay``: the mutation-replay kernel on one bucket of 2000
  (key, day) segments, each with 20 snapshot rows, 6 mutations (a third
  of them deletes of snapshot rows) and 5 queries, with invertible (SUM,
  COUNT, AVERAGE), non-invertible (MAX, LAST_K, UNIQUE_COUNT) and
  bucketed (SUM by a string column) parts. Stages: ``pairs`` expands
  each query into its (query, right row) pairs (`range_pairs`),
  ``replay`` is `replay_aggregate_batch`.
* ``pixel.batch``: `pixel_feature_batch` over the same fixture in
  1024-row batches (the Arrow batch size of the bench). Stages:
  ``to_pandas`` converts each Arrow batch, ``features`` is the batch
  function.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

import numpy as np
from pyspark.sql.types import ArrayType, DoubleType, LongType, MapType, StringType

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from chronon_spark.api import AggregationPart, Operation, Window  # noqa: E402
from chronon_spark.fixtures import ensure_image_fixture  # noqa: E402

DAY = 86_400_000


def _bucket_inputs(code, ts, vals, n_buckets):
    """Split rows into buckets by code; each bucket sorted by (code, ts)."""
    out = []
    for b in range(n_buckets):
        sel = np.flatnonzero(code % n_buckets == b)
        order = sel[np.lexsort((ts[sel], code[sel]))]
        out.append((code[order], ts[order], {"v": vals[order]}))
    return out


def _image_asof_buckets(path):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["phash", "ts", "caption"])
    phash = t.column("phash").to_numpy()
    _, code = np.unique(phash, return_inverse=True)
    ts = t.column("ts").to_numpy().astype(np.int64)
    caption_len = np.array([len(c) for c in t.column("caption").to_pylist()], dtype=np.float64)
    parts = [
        AggregationPart("v", Operation.COUNT, window=Window(1)),
        AggregationPart("v", Operation.COUNT, window=None),
        AggregationPart("v", Operation.MAX, window=None),
    ]
    return _bucket_inputs(code.astype(np.int64), ts, caption_len, 32), parts


def _many_events_buckets():
    rng = np.random.default_rng(7)
    n_keys = 8 * 16
    code = np.repeat(np.arange(n_keys, dtype=np.int64), rng.integers(150, 350, size=n_keys))
    ts = 1704067200000 + rng.integers(0, 30 * DAY, size=len(code))
    vals = np.round(rng.normal(50.0, 20.0, size=len(code)), 2)
    vals[rng.random(len(code)) < 0.1] = np.nan
    parts = [
        AggregationPart("v", op, window=w)
        for op in (Operation.SUM, Operation.AVERAGE, Operation.VARIANCE,
                   Operation.SKEW, Operation.KURTOSIS)
        for w in (Window(1), Window(7), None)
    ] + [
        AggregationPart("v", Operation.MAX, window=Window(7)),
        AggregationPart("v", Operation.LAST_K, arg_map={"k": 5}, window=Window(7)),
    ]
    return _bucket_inputs(code, ts, vals, 8), parts


def _grouped_bucket():
    rng = np.random.default_rng(8)
    code = np.repeat(np.arange(2000, dtype=np.int64), 5)
    n = len(code)
    ts = 1704067200000 + rng.integers(0, 30 * DAY, size=n)
    order = np.lexsort((ts, code))
    code, ts = code[order], ts[order]
    cat = rng.choice(np.array(["a", "b", "c", "d", None], dtype=object), size=n)
    labels = np.array(["p", "q", "r", "s", "t"])
    m = np.empty(n, dtype=object)
    m[:] = [{str(k): float(rng.integers(0, 9)) for k in
             rng.choice(labels, size=rng.integers(0, 4), replace=False)}
            for _ in range(n)]
    evals = {"v": np.round(rng.normal(50.0, 20.0, size=n), 2), "cat": cat, "m": m}
    parts = [
        AggregationPart("v", Operation.SUM, window=Window(7), bucket="cat"),
        AggregationPart("v", Operation.COUNT, window=None, bucket="cat"),
        AggregationPart("m", Operation.COUNT, window=Window(7)),
    ]
    types = {"v": "double", "cat": "string", "m": "map<string,double>"}
    return [(code, ts, evals)], parts, types


def _mutation_inputs():
    """One cogroup bucket of the mutation kernel, rows sorted by segment."""
    rng = np.random.default_rng(9)
    n_seg, n_snap, n_mut, n_q = 2000, 20, 6, 5
    day0 = 1704067200000 + 10 * DAY
    seg = np.repeat(np.arange(n_seg, dtype=np.int64), n_snap)
    snap_ts = day0 - rng.integers(1, 9 * DAY, size=len(seg))
    snap_v = np.round(rng.normal(50.0, 20.0, size=len(seg)), 2)
    # a third of the mutations delete a snapshot row, the rest insert
    mseg = np.repeat(np.arange(n_seg, dtype=np.int64), n_mut)
    victim = mseg * n_snap + rng.integers(0, n_snap, size=len(mseg))
    delete = rng.random(len(mseg)) < 1 / 3
    m_ts = np.where(delete, snap_ts[victim], day0 + rng.integers(0, DAY, size=len(mseg)))
    m_v = np.where(delete, snap_v[victim], np.round(rng.normal(50.0, 20.0, size=len(mseg)), 2))
    m_mut = (day0 + rng.integers(0, DAY, size=len(mseg))).astype(np.float64)
    rcode = np.concatenate([seg, mseg])
    order = np.argsort(rcode, kind="stable")
    vals = np.concatenate([snap_v, m_v])[order]
    rows = {
        "code": rcode[order],
        "ts": np.concatenate([snap_ts, m_ts])[order],
        "mut_ts": np.concatenate([np.full(len(seg), np.nan), m_mut])[order],
        "sign": np.concatenate([np.ones(len(seg), dtype=np.int64),
                                np.where(delete, -1, 1)])[order],
        "vals": {"v": vals,
                 "cat": np.array(["abc"[int(x) % 3] for x in vals], dtype=object)},
    }
    qcode = np.repeat(np.arange(n_seg, dtype=np.int64), n_q)
    qts = day0 + rng.integers(0, DAY, size=len(qcode))
    parts = [
        AggregationPart("v", op, arg_map={"k": 3}, window=w)
        for op in (Operation.SUM, Operation.COUNT, Operation.AVERAGE,
                   Operation.MAX, Operation.LAST_K, Operation.UNIQUE_COUNT)
        for w in (Window(7), None)
    ] + [AggregationPart("v", Operation.SUM, window=Window(7), bucket="cat")]
    return rows, qcode, qts, parts


def _time_replay(rows, qcode, qts, parts):
    from chronon_spark.operators.mutations import _replay_empty, replay_aggregate_batch
    from chronon_spark.operators.sawtooth import range_pairs

    t0 = time.perf_counter()
    chunks = list(range_pairs(np.searchsorted(rows["code"], qcode, side="left"),
                              np.searchsorted(rows["code"], qcode, side="right")))
    t1 = time.perf_counter()
    nq = len(qts)
    outs = {}
    for p in parts:
        outs[p.output_name] = np.empty(nq, dtype=object)
        outs[p.output_name][:] = [_replay_empty(p) for _ in range(nq)]
    for a, b, qidx, ridx in chunks:
        replay_aggregate_batch(
            qidx, ridx, qts[a:b], b - a, rows["ts"], rows["mut_ts"], rows["sign"],
            rows["vals"], parts, {n: o[a:b] for n, o in outs.items()})
    t2 = time.perf_counter()
    return {"pairs": t1 - t0, "replay": t2 - t1}


# the output types of the cases above, built without a Spark session
SQL_TYPES = {
    "bigint": LongType(),
    "double": DoubleType(),
    "array<double>": ArrayType(DoubleType()),
    "map<string,bigint>": MapType(StringType(), LongType()),
    "map<string,double>": MapType(StringType(), DoubleType()),
}


def _time_sawtooth(buckets, parts, types=None):
    from chronon_spark.operators.temporal_join import (
        _kernel_columns,
        _sawtooth_by_key,
        _to_arrow,
    )

    _, array_inputs, map_inputs, fields = _kernel_columns(types or {"v": "double"}, parts)
    by_key = emit = 0.0
    for code, ts, evals in buckets:
        t0 = time.perf_counter()
        bufs = _sawtooth_by_key(code, ts, code, ts, evals, parts, fields,
                                array_inputs, map_inputs)
        t1 = time.perf_counter()
        for name, sql_type in fields:
            _to_arrow(bufs[name], SQL_TYPES[sql_type])
        t2 = time.perf_counter()
        by_key += t1 - t0
        emit += t2 - t1
    return {"by_key": by_key, "emit": emit}


def _time_pixels(path):
    import pyarrow.parquet as pq

    from chronon_spark.operators.multimodal import pixel_feature_batch

    cols = ["image_id", "bytes", "w", "h", "fmt"]
    to_pandas = features = 0.0
    for batch in pq.ParquetFile(path).iter_batches(batch_size=1024, columns=cols):
        t0 = time.perf_counter()
        pdf = batch.to_pandas()
        t1 = time.perf_counter()
        pixel_feature_batch(pdf)
        t2 = time.perf_counter()
        to_pandas += t1 - t0
        features += t2 - t1
    return {"to_pandas": to_pandas, "features": features}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--repeat", type=int, default=7)
    ap.add_argument("--fixtures", default=os.path.join(ROOT, ".fixtures"))
    args = ap.parse_args()

    path = ensure_image_fixture(4096, seed=1, out_dir=args.fixtures)
    img_buckets, img_parts = _image_asof_buckets(path)
    many_buckets, many_parts = _many_events_buckets()
    n_many = sum(len(b[1]) for b in many_buckets)
    grp_buckets, grp_parts, grp_types = _grouped_bucket()
    mut = _mutation_inputs()
    cases = [
        ("sawtooth.image_asof", 4096, lambda: _time_sawtooth(img_buckets, img_parts)),
        ("sawtooth.many_events", n_many, lambda: _time_sawtooth(many_buckets, many_parts)),
        ("sawtooth.grouped", 10_000,
         lambda: _time_sawtooth(grp_buckets, grp_parts, grp_types)),
        ("mutation.replay", len(mut[1]), lambda: _time_replay(*mut)),
        ("pixel.batch", 4096, lambda: _time_pixels(path)),
    ]
    print("| case | stage | median ms | best ms | us/item |")
    print("|---|---|---|---|---|")
    for name, items, fn in cases:
        fn()  # warm-up: imports, fixture pages, numpy caches
        runs = [fn() for _ in range(args.repeat)]
        for stage in list(runs[0]) + ["total"]:
            vals = [sum(r.values()) if stage == "total" else r[stage] for r in runs]
            med = statistics.median(vals)
            print(f"| {name} | {stage} | {med * 1e3:.1f} | {min(vals) * 1e3:.1f} "
                  f"| {med / items * 1e6:.1f} |")


if __name__ == "__main__":
    main()
