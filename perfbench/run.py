"""chronon_spark benchmark: one closed-loop client per workload at local[nproc].

    python3 perfbench/run.py --workload image_asof --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. A run:

1. generates (or reuses) the seeded inputs of the workload in a child
   process, cached per seed under perfbench/.work/inputs;
2. sets up SETUPS times: `build_session` plus one untimed warm-up pass;
   the first set-up starts the JVM, the others stop the SparkContext and
   build a new one in it. `setup_s` is the median;
3. makes passes back to back for --seconds (always at least one): public
   compute call, execution and sink. `wall_s` is the median pass wall.
   With --trace 1, untraced and traced passes alternate; the per-layer
   metrics are medians over the traced passes;
4. checks the parquet output of one more pass against an oracle;
5. reads the peak RSS, stops Spark and its JVM, and prints one JSON object
   as the last line of stdout. Each pass's wall and host steal precede it.

`--smoke` runs every workload on tiny inputs with both --trace values and
checks that each prints exactly the metrics of BENCHMARK.json, each with
its unit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, ROOT)

from metrics import ALL, END_TO_END, PER_LAYER  # noqa: E402

SETUPS = 3
DRIVER_MEMORY = "1g"


def _prepare_env() -> None:
    """Everything the engine, its JVM and its Python workers need, set
    before the JVM starts: they inherit this environment. Every file they
    write lands under WORK."""
    tmp = os.path.join(WORK, "tmp")
    for d in (tmp, os.path.join(WORK, "spark-local")):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY


def _confs() -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # a fixed-size heap takes heap resizing out of the JVM's peak RSS,
        # which otherwise swings by +-10% from run to run
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _layers(spark, w, tracer, mark, n_exec, steal) -> dict:
    """Per-layer numbers of one traced pass."""
    import probe

    m = dict.fromkeys(PER_LAYER, 0.0)
    for nodes in probe.sql_nodes(spark, n_exec):
        names = [n["name"] for n in nodes]
        kernel = any(n.startswith(("FlatMapCoGroupsIn", "FlatMapGroupsIn")) for n in names)
        agg = any(n.endswith("Aggregate") for n in names)
        for n in nodes:
            name, mt = n["name"], n["metrics"]
            if name.startswith("Scan"):
                m["sources.scan_ms"] += mt.get("scan time", 0)
                m["sources.files_bytes"] += mt.get("size of files read", 0)
                m["sources.rows_read"] += mt.get("number of output rows", 0)
            elif name == "Exchange":
                m["exchange.shuffle_write_ms"] += mt.get("shuffle write time", 0) / 1e6
                key = ("temporal_join.shuffle_bytes" if kernel else
                       "groupby.shuffle_bytes" if agg else None)
                if key:
                    m[key] += mt.get("shuffle bytes written", 0)
            elif name == "AQEShuffleRead":
                m["exchange.aqe_partitions"] += mt.get("number of partitions", 0)
            elif name.startswith(("FlatMapCoGroupsIn", "FlatMapGroupsIn")):
                m["temporal_join.python_ms"] += mt.get("time to run Python workers", 0)
                m["temporal_join.python_init_ms"] += (
                    mt.get("time to start Python workers", 0)
                    + mt.get("time to initialize Python workers", 0))
                m["temporal_join.arrow_bytes_sent"] += mt.get("data sent to Python workers", 0)
                m["temporal_join.arrow_bytes_received"] += mt.get(
                    "data returned from Python workers", 0)
                if n["stage"]:
                    tasks = probe.stage_tasks(spark, n["stage"][0])
                    skew = probe.stage_skew(spark, *n["stage"])
                else:  # a one-task stage renders its metrics without a stage id
                    tasks, skew = 1, 1.0
                m["temporal_join.kernel_tasks"] += tasks
                m["temporal_join.task_skew"] = max(m["temporal_join.task_skew"], skew)
            elif name.startswith(("MapInPandas", "MapInArrow")):
                m["multimodal.python_ms"] += mt.get("time to run Python workers", 0)
                m["multimodal.arrow_bytes_sent"] += mt.get("data sent to Python workers", 0)
            elif name.endswith("Aggregate"):
                m["groupby.agg_ms"] += mt.get("time in aggregation build", 0)
            if agg and not kernel:
                m["groupby.spill_bytes"] += mt.get("spill size", 0)

    join_spans = ("temporal_join.compute_temporal_join", "temporal_join.temporal_features")
    groups = tracer.groups_since(mark)
    m["temporal_join.plan_s"] = sum(tracer.seconds(s, mark) for s in join_spans)
    m["temporal_join.plan_jobs"] = probe.job_counts(
        spark, [g for g in groups if g.endswith(join_spans)])["jobs"]
    jobs = probe.job_counts(spark, groups)
    m["spark.jobs"] = jobs["jobs"]
    m["spark.tasks"] = jobs["tasks"]
    m["spark.failed_tasks"] = jobs["failed_tasks"]
    m["host.steal_jiffies"] = steal

    if getattr(w, "last", None) is not None:
        report, wh = w.last
        compute = tracer.seconds("groupby.compute_snapshot_groupby", mark)
        write = tracer.seconds("backfill.insert_overwrite", mark)
        files = w.output_files(wh)
        m["groupby.plan_s"] = compute
        m["backfill.steps"] = len(report.steps)
        m["backfill.step_s"] = _median([s.wall_sec for s in report.steps])
        m["backfill.jobs_per_step"] = jobs["jobs"] / max(len(report.steps), 1)
        m["backfill.write_s"] = write
        # the step's count job materializes the cached step, so the
        # aggregation's execution lands here until the cache goes
        m["backfill.bookkeeping_s"] = tracer.seconds("backfill.run", mark) - compute - write
        m["backfill.files_written"] = len(files)
        m["backfill.bytes_written"] = sum(os.path.getsize(f) for f in files)
    return m


def _setup(Workload, inputs, meta, work):
    """SETUPS set-ups; returns the last session and each (start_s, warmup_s)."""
    import probe
    from chronon_spark.session import build_session

    setups = []
    for i in range(SETUPS):
        if i:
            spark.stop()
        t0 = time.perf_counter()
        spark = build_session("perfbench", extra_confs=_confs())
        t1 = time.perf_counter()
        Workload(spark, inputs, meta, work, probe.Tracer(spark, False)).run_pass()
        setups.append((t1 - t0, time.perf_counter() - t1))
    return spark, setups


def _timed(w, tracer, spark, seconds: float, trace: bool) -> list[dict]:
    """Passes back to back for `seconds`; with `trace`, every second pass
    is traced (and at least one of each kind runs)."""
    import probe

    passes = []
    start = time.perf_counter()
    while (time.perf_counter() - start < seconds or not passes
           or (trace and len(passes) < 2)):
        tracer.enabled = trace and len(passes) % 2 == 1
        mark, n_exec = tracer.mark(), probe.execution_count(spark)
        st0 = probe.steal_jiffies()
        t0 = time.perf_counter()
        try:
            with tracer.span("pass", jobs=True):
                rows = w.run_pass()
            ok = True
        except Exception:  # a failed pass is counted, not fatal
            traceback.print_exc()
            rows, ok = 0, False
        rec = {"wall": time.perf_counter() - t0, "steal": probe.steal_jiffies() - st0,
               "rows": rows, "ok": ok, "traced": tracer.enabled}
        if tracer.enabled and ok:
            rec["layers"] = _layers(spark, w, tracer, mark, n_exec, rec["steal"])
        passes.append(rec)
        print(f"pass {len(passes)} wall_s={rec['wall']:.4f} steal_jiffies={rec['steal']} "
              f"rows={rows} ok={ok} traced={rec['traced']}", flush=True)
    tracer.enabled = False
    return passes


def _check(w, work: str, seed: int) -> tuple[list[str], int, int]:
    """Problems found in one pass's parquet output, and its (rows, bytes)."""
    import numpy as np
    import pyarrow.parquet as pq

    dest = os.path.join(work, "check")
    try:
        dest = w.write_copy(dest)
        problems = w.check(dest, np.random.default_rng(seed))
    except Exception as e:  # a crashed check is a failed check
        traceback.print_exc()
        problems = [f"check raised {e!r}"]
    for p in problems[:20]:
        print("CHECK FAILED:", p, file=sys.stderr)
    # data files only: the warehouse keeps its manifest and snapshot log
    # under `_`-prefixed directories
    files = [os.path.join(d, f) for d, _, fs in os.walk(dest) for f in fs
             if f.endswith(".parquet") and os.sep + "_" not in d[len(dest):]]
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return problems, rows, sum(os.path.getsize(f) for f in files)


def run(workload: str, seed: int, seconds: float, trace: bool, size: str) -> dict:
    _prepare_env()
    import inputs
    import probe
    from workloads import WORKLOADS

    in_dir, meta = inputs.ensure(WORK, workload, size, seed)
    work = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    Workload = WORKLOADS[workload]
    spark, setups = _setup(Workload, in_dir, meta, work)
    tracer = probe.Tracer(spark, False)
    w = Workload(spark, in_dir, meta, work, tracer)
    passes = _timed(w, tracer, spark, seconds, trace)
    decode_s = 0.0
    if trace and hasattr(w, "decode_only"):
        tracer.enabled = True
        t0 = time.perf_counter()
        w.decode_only()
        decode_s = time.perf_counter() - t0
        tracer.enabled = False
    problems, copy_rows, copy_bytes = _check(w, work, seed)
    rss = probe.peak_rss_mb(spark.sparkContext._gateway.proc.pid)
    print("peak_rss_mb " + " ".join(f"{k}={v:.1f}" for k, v in rss.items()), flush=True)
    _stop(spark)
    if trace:
        tracer.dump(os.path.join(WORK, f"spans-{workload}-seed{seed}.json"))
    shutil.rmtree(work, ignore_errors=True)

    attempted = len(passes) + 1
    failed = sum(not p["ok"] for p in passes) + (1 if problems else 0)
    wall = _median([p["wall"] for p in passes if p["ok"] and not p["traced"]])
    if trace:
        traced = [p["layers"] for p in passes if "layers" in p]
        values = {k: _median([t[k] for t in traced]) for k in PER_LAYER}
        values["session.start_s"], values["session.warmup_s"] = setups[0]
        values["multimodal.decode_s"] = decode_s
        values["trace.overhead_s"] = _median(
            [p["wall"] for p in passes if p["ok"] and p["traced"]]) - wall
        metrics = {k: {"value": values[k], "unit": PER_LAYER[k][0]} for k in PER_LAYER}
    else:
        rows = max(p["rows"] for p in passes)
        values = {
            "wall_s": wall,
            "rows_per_s": rows / wall if wall else 0.0,
            "setup_s": _median([a + b for a, b in setups]),
            "peak_rss_mb": rss["driver"] + rss["jvm"] + rss["workers"],
            "ok_ratio": 1.0 - failed / attempted,
            "stored_bytes_per_row": copy_bytes / copy_rows if copy_rows else 0.0,
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not problems and failed == 0, "attempted": attempted,
            "failed": failed, "metrics": metrics}


def smoke() -> int:
    """Every workload on tiny inputs, both trace modes: the printed metric
    names and units must be exactly those of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    bad = 0
    for w in ALL:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", "1",
                   "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            try:
                res = json.loads(out.stdout.strip().splitlines()[-1])
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                ok = out.returncode == 0 and res["correct"] and got == want[trace]
            except (IndexError, ValueError, KeyError):
                ok, res = False, None
            bad += not ok
            print(f"smoke {w} trace={trace}: {'ok' if ok else 'FAILED'}", flush=True)
            if not ok:
                print(out.stderr[-4000:], file=sys.stderr)
            else:
                print("   " + ", ".join(f"{k}={v['value']:.4g} {v['unit']}"
                                        for k, v in res["metrics"].items()))
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=ALL)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("run", "tiny"), default="run")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "chronon_spark")):
        print(f"chronon_spark not found next to {HERE}: run from a repository "
              "checkout", file=sys.stderr)
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
