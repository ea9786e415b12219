"""Print the normalised optimized logical plan of each bench-shaped query.

    python tools/plan_fingerprint.py [--scale 0.001] [--stats] > plans.txt

Builds the eight queries of ``perfbench/workloads.py`` -- flagship,
grouped, kNN, one chunk of the chunked job, points-in-polygons, zonal
stats, rasterize and bilinear resampling -- over the fixture tables of
the given scale, through the engine's public operators, and prints each
query's optimized logical plan with the spelling that varies between
runs removed: expression ``#id``s, lambda variable names, the
``struct(``/``named_struct(`` spelling of the same struct constructor,
and file paths. Run it on two checkouts and diff the outputs: an empty
diff means a change left every plan as it was, so any time it saves is
driver time only.

``--stats`` also prints, per query, the driver wall time and the number
of py4j JVM method calls one warm build takes (stderr, so the plan text
stays diffable).
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = ("flagship", "grouped", "knn", "chunk", "pip", "zonal", "rasterize", "bilinear")


def bench_queries(spark, fdir: str) -> dict:
    """name -> builder (a zero-argument callable returning the DataFrame)
    for the eight bench-shaped queries over the tables in ``fdir``."""
    from perfbench import workloads as wl

    inp = wl.Inputs(spark, str(fdir))
    out = {q.name: q.build for q in wl.point_sample(inp) + wl.raster_vector(inp)}
    chunk = wl.job_chunks(1)[0]
    out["chunk"] = lambda: wl.chunk_query(inp, wl.chunk_points(inp), chunk).build()
    return {name: out[name] for name in QUERIES}


@contextmanager
def count_jvm_calls():
    """Count py4j JVM method calls made inside the block (``n[0]``)."""
    from py4j import java_gateway

    orig = java_gateway.JavaMember.__call__
    n = [0]

    def counting(self, *args):
        n[0] += 1
        return orig(self, *args)

    java_gateway.JavaMember.__call__ = counting
    try:
        yield n
    finally:
        java_gateway.JavaMember.__call__ = orig


def normalise(plan: str) -> str:
    plan = re.sub(r"lambda [A-Za-z_]\w*#\d+", "lambda v#", plan)
    plan = re.sub(r"#\d+", "#", plan)
    plan = plan.replace("named_struct(", "struct(")
    return re.sub(r"file:[^\s,\]]+", "file:<path>", plan)


def optimized_plan(df) -> str:
    return normalise(df._jdf.queryExecution().optimizedPlan().toString())


def build_stats(build, repeats: int = 3) -> tuple[float, int]:
    """(median build wall in s, JVM calls of one build) of a warm build."""
    walls, calls = [], 0
    for _ in range(repeats):
        with count_jvm_calls() as n:
            t0 = time.perf_counter()
            build()
            walls.append(time.perf_counter() - t0)
        calls = n[0]
    return sorted(walls)[len(walls) // 2], calls


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", default="0.001", help="fixture scale factor (default 0.001)")
    ap.add_argument("--stats", action="store_true", help="print build wall and JVM calls to stderr")
    args = ap.parse_args(argv)

    from rasters_spark import fixtures, get_spark

    spark = get_spark("plan_fingerprint", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    fdir = fixtures.ensure_fixtures(f"/sf{args.scale}")
    builders = bench_queries(spark, str(fdir))
    for name, build in builders.items():
        df = build()
        print(f"=== {name}")
        print(optimized_plan(df))
    if args.stats:
        print(f"{'query':<10} {'build_s':>8} {'jvm_calls':>9}", file=sys.stderr)
        for name, build in builders.items():
            wall, calls = build_stats(build)
            print(f"{name:<10} {wall:8.3f} {calls:9d}", file=sys.stderr)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
