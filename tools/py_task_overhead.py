"""Fixed cost of a Python task: the wall of a trivial engine `mapInArrow`
stage at 1, 4 and 16 partitions.

    python tools/py_task_overhead.py [--cpus 4] [--repeat 7]

Each stage maps `spark.range(partitions * 1000, numPartitions=partitions)`
through an identity Arrow function that imports the engine package, as
every engine UDF does, and runs it to a noop sink. Every partition is one
task, so the wall grows with the per-task set-up of the Python worker, not
with compute. The same plan with no Python stage is the floor. One untimed
run of each shape warms the JVM and starts the reused workers first. The
table shows the median and the fastest of --repeat runs, in ms.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# the workers import the engine the way the driver does
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from chronon_spark.session import build_session  # noqa: E402

PARTITIONS = (1, 4, 16)


def _identity(batches):
    import chronon_spark  # noqa: F401  (as an engine UDF's unpickling does)

    yield from batches


def _run(spark, partitions: int, python: bool) -> float:
    df = spark.range(partitions * 1000, numPartitions=partitions)
    if python:
        df = df.mapInArrow(_identity, df.schema)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--cpus", type=int, default=4)
    ap.add_argument("--repeat", type=int, default=7)
    args = ap.parse_args()

    spark = build_session("py_task_overhead", master=f"local[{args.cpus}]",
                          shuffle_partitions=args.cpus,
                          extra_confs={"spark.ui.showConsoleProgress": "false"})
    shapes = [(p, python) for python in (False, True) for p in PARTITIONS]
    for shape in shapes:
        _run(spark, *shape)
    walls = {shape: [] for shape in shapes}
    for _ in range(args.repeat):  # interleave the shapes, so drift hits all
        for shape in shapes:
            walls[shape].append(_run(spark, *shape) * 1000)
    print(f"local[{args.cpus}], {args.repeat} runs per shape")
    print(f"{'stage':<12}{'partitions':>11}{'median ms':>11}{'min ms':>9}")
    for (p, python), ms in walls.items():
        name = "mapInArrow" if python else "no Python"
        print(f"{name:<12}{p:>11}{statistics.median(ms):>11.0f}{min(ms):>9.0f}")
    spark.stop()


if __name__ == "__main__":
    main()
