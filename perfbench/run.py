"""Layer-attributed benchmark of the rasters_spark tiling engine.

    python3 perfbench/run.py --workload point-sample --seed 1 --seconds 10 --trace 0

One client drives the engine on local[4] as a closed loop: queries are
issued back to back, each forced to a ``noop`` sink; a chunked job
commits through ``TableIO`` instead. A run

1. generates (or reuses) the inputs for ``--scale``/``--seed`` and the
   expected outputs (``inputs.py``, ``reference.py``);
2. sets up SETUPS times: ``get_spark()``, input registration and one
   untimed warm-up pass, which pays class loading, code generation and
   Python worker start. The first set-up starts the JVM, and its warm-up
   pass is the output check: it collects every output for comparison
   with the reference. The others restart the SparkContext in the same
   JVM. ``setup_s`` is the median, so in practice the slower restart;
3. after each restart, measures warm passes for an equal share of
   ``--seconds`` (at least one), so that the passes sample the host over
   most of the run; each must repeat the row counts of the checked pass;
4. prints one line per metric and, last, one JSON object.

``--trace 1`` interleaves untraced passes with traced ones (``spans.py``)
and reports the per-layer metrics of ``layer_map.json`` instead of the
end-to-end ones; spans go to ``.perfbench/traces/``. The exit code is not
0 when an operation failed or an output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CORES = 4
SETUPS = 3
WORKLOADS = ("point-sample", "raster-vector", "chunked-commit")
# gated end-to-end metrics (BENCHMARK.json); every workload reports all of
# them. peak_rss_mb is printed but not gated: the JVM's resident size
# follows G1's heap sizing, 2.2-3.6 GB over five seeds of one workload.
E2E = (("setup_s", "s"), ("pass_s.p50", "s"))
LAYER_MAP = json.loads((HERE / "layer_map.json").read_text())["metrics"]
# span name -> per-layer metric its self time feeds (default: "<span>_s")
SPAN_METRIC = {"tiles": "tiles.scan_s", "cells": "cells.busy_s", "point_join": "point_join.busy_s",
               "knn": "knn.busy_s"}
# sparkstats counter -> per-layer metric, summed over every stage span of a pass
COUNTER_METRIC = {
    "python_start_s": "python.start_s", "python_init_s": "python.init_s",
    "python_run_s": "python.run_s", "arrow_to_python_bytes": "arrow.bytes_to_python",
    "arrow_from_python_bytes": "arrow.bytes_from_python", "codegen_s": "codegen.stage_s",
    "shuffle_write_bytes": "shuffle.bytes_written", "shuffle_read_bytes": "shuffle.bytes_read",
    "broadcast_collect_s": "broadcast.collect_s", "broadcast_build_s": "broadcast.build_s",
    "gc_s": "jvm.gc_s", "spill_bytes": "spill.bytes", "tasks_failed": "tasks.failed",
}


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and pin the engine to CORES task threads."""
    for d in ("fixtures", "spark-local", "tmp", "inputs", "traces", "tables"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    tmp = WORK / "tmp"
    os.environ.update({
        "SPARK_GRAFT_FIXTURES": str(WORK / "fixtures"),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell',
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",  # spark-submit's launcher JVM
    })
    sys.path.insert(0, str(ROOT))


def _quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, -int(-q * len(s) // 1) - 1))]


@dataclass
class Work:
    """A workload's registered inputs: lazy DataFrames, no Spark job."""

    inp: object
    queries: list
    n_chunks: int
    chunk_pts: object


class Bench:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.attempted = 0
        self.failed = 0
        self.wrong: list[str] = []
        self.expected_rows: dict[str, int | None] = {}
        self.tables = WORK / "tables" / f"{self.workload}-{os.getpid()}"
        self.job_count = 0
        self.job_stats: dict = {}

    def register(self, spark, input_dir: Path) -> Work:
        from perfbench import workloads as wl

        inp = wl.Inputs(spark, str(input_dir))
        build, n_chunks = wl.WORKLOADS[self.workload]
        return Work(inp, build(inp), n_chunks, wl.chunk_points(inp) if n_chunks else None)

    def pass_queries(self, work: Work):
        """(TableIO table or None, the queries of one pass). A pass that
        commits gets a fresh table; its chunked job runs after the queries."""
        from rasters_spark.tableio import TableIO

        from perfbench import workloads as wl

        if not work.n_chunks:
            return None, work.queries
        self.job_count += 1
        path = self.tables / f"job-{self.job_count}"
        shutil.rmtree(path, ignore_errors=True)
        table = TableIO(str(path))
        spark = work.inp.spark
        qs = list(work.queries)
        for c in wl.job_chunks(work.n_chunks):
            q = wl.chunk_query(work.inp, work.chunk_pts, c)
            q.stages.append(wl.Stage("tableio.write", lambda o, c=c: table.write(
                o[-1], operation="flagship-join", job_id="perfbench", chunk_id=f"chunk-{c}")))
            qs.append(q)
        qs.append(wl.Query("compact", [wl.Stage(
            "tableio.compact", lambda o: table.compact(spark) or {"row_count": 0})]))
        qs.append(wl.Query("read", [wl.Stage("tableio.read", lambda o: table.read(spark))]))
        return table, qs

    @staticmethod
    def force(x) -> int:
        """Run a query to a noop sink; returns its row count. A commit
        (a TableIO ledger entry) is already forced."""
        if isinstance(x, dict):
            return int(x["row_count"])
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation("perfbench")
        x.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode("overwrite").save()
        return int(obs.get["rows"])

    def attempt(self, name: str, fn):
        self.attempted += 1
        try:
            return fn()
        except Exception:  # one failed query must not stop the run
            self.failed += 1
            print(f"FAILED {name}:\n{traceback.format_exc()}", file=sys.stderr, flush=True)
            return None

    def run_pass(self, work: Work, tracer=None, pass_id=0, check=True) -> tuple[float, dict]:
        """One pass of the workload; returns (wall, {operation: wall})."""
        from perfbench import spans

        table, qs = self.pass_queries(work)
        ops = {}
        t0 = time.perf_counter()
        for q in qs:
            q0 = time.perf_counter()
            if tracer is None:
                rows = self.attempt(q.name, lambda: self.force(q.build()))
            else:
                rows = self.attempt(q.name, lambda: spans.run_query(tracer, self.reader, q, pass_id, self.force))
            ops[q.name] = time.perf_counter() - q0
            if check and rows is not None and rows != self.expected_rows.get(q.name):
                self.wrong.append(f"{q.name}: {rows} rows in a warm pass, "
                                  f"{self.expected_rows.get(q.name)} when checked")
        wall = time.perf_counter() - t0
        if table is not None:
            commits = [e for e in table.snapshots() if e["operation"] == "flagship-join"]
            self.job_stats = {
                "files": statistics.median(len(e["files"]) for e in commits),
                "bytes": statistics.median(sum(f["bytes"] for f in e["files"]) for e in commits),
                "ledger": table.ledger_path.stat().st_size,
            }
            shutil.rmtree(table.base, ignore_errors=True)
        return wall, ops

    def check_pass(self, work: Work) -> list:
        """A pass that collects every query output, and the table a
        chunked job commits, for :meth:`compare`."""
        table, qs = self.pass_queries(work)
        got = []
        for q in qs:
            if q in work.queries:
                frame = self.attempt(q.name, lambda: q.build().toPandas())
                got.append((q.name, frame))
                self.expected_rows[q.name] = None if frame is None else len(frame)
            else:
                self.expected_rows[q.name] = self.attempt(q.name, lambda: self.force(q.build()))
        if table is not None:
            got.append((f"job{work.n_chunks}", self.attempt("job", lambda: table.read(work.inp.spark).toPandas())))
            shutil.rmtree(table.base, ignore_errors=True)
        return got

    def compare(self, got: list) -> None:
        from perfbench import reference

        self.reference_thread.join()
        if not self.want:
            raise RuntimeError("computing the reference failed (traceback on stderr)")
        for name, frame in got:
            if frame is not None:  # else already counted as a failed operation
                problem = reference.check(frame, self.want[name])
                if problem:
                    self.wrong.append(f"{name}: {problem}")
        job = f"job{self.work.n_chunks}"
        if job in self.want and self.expected_rows.get("read") != self.want[job]["rows"]:
            self.wrong.append(f"read-back count {self.expected_rows.get('read')} is not the committed rows")

    def setup(self, first: bool) -> tuple[float, float, list]:
        """(setup_s, session_s, outputs collected by the check pass):
        get_spark(), registration, warm-up pass."""
        from rasters_spark import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{CORES}]")
        session_s = time.perf_counter() - t0
        self.spark = spark
        self.work = self.register(spark, self.dir)
        if first:
            got = self.check_pass(self.work)
        else:
            got = []
            self.run_pass(self.work, check=False)
        return time.perf_counter() - t0, session_s, got

    def main(self) -> dict:
        import bench
        from pyspark import SparkContext

        from perfbench import inputs, procstat, reference, spans, sparkstats
        from perfbench import workloads as wl

        args = self.args
        phases, t = {}, time.perf_counter()

        def phase(name):
            nonlocal t
            now = time.perf_counter()
            phases[name] = round(now - t, 2)
            t = now

        host = {"canary_pre_s": bench.host_canary(), "nproc": os.cpu_count(),
                "master": f"local[{CORES}]", "seed": args.seed, "scale": args.scale}
        phase("canary")
        self.dir = inputs.ensure(WORK / "inputs", args.scale, args.seed)
        phase("inputs")
        build, n_chunks = wl.WORKLOADS[self.workload]
        names = [q.name for q in build(wl.Inputs(None, str(self.dir)))] + ([f"job{n_chunks}"] if n_chunks else [])
        # the reference is computed beside the first set-up, which mostly
        # waits on the JVM; compare() joins it
        self.want = {}
        ref = threading.Thread(target=lambda: self.want.update(reference.expectations(self.dir, names)))
        ref.start()
        self.reference_thread = ref

        setups, sessions = [], []
        tracer = spans.Tracer() if args.trace else None
        walls, traced_walls, ops, peak_rss = [], [], {}, 0
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            s, sess, got = self.setup(first=i == 0)
            setups.append(s)
            sessions.append(sess)
            if got:
                self.compare(got)
            phase(f"setup{i}")
            jvm = SparkContext._gateway.proc
            if not i:  # the JVM has run a single pass: not warm yet
                continue
            self.reader = sparkstats.StatusReader(self.spark)
            # passes follow every restart, so that together they sample the
            # host over most of the run, not one stretch of it
            deadline = time.perf_counter() + args.seconds / (SETUPS - 1)
            with procstat.PeakRss(jvm.pid, interval=0.5) as rss:
                while True:
                    t_it = time.perf_counter()
                    w, o = self.run_pass(self.work)
                    walls.append(w)
                    for k, v in o.items():
                        ops.setdefault(k, []).append(v)
                    if tracer is not None:
                        with tracer.span("pass", len(traced_walls)) as sp:
                            self.run_pass(self.work, tracer, len(traced_walls))
                        traced_walls.append(sp.duration)
                    # stop where one more pass would end further past the
                    # deadline than this one ends before it
                    now = time.perf_counter()
                    if now + (now - t_it) / 2 >= deadline:
                        break
            peak_rss = max(peak_rss, rss.peak_bytes)
            phase(f"measure{i}")
        extra = self.cardinalities() if tracer is not None else {}
        self.teardown(jvm)
        phase("teardown")
        host["canary_post_s"] = bench.host_canary()
        phase("canary_post")
        host["phases_s"] = phases

        res = {
            "setup_s": (statistics.median(setups), len(setups)),
            "pass_s.p50": (statistics.median(walls), len(walls)),
            "peak_rss_mb": (peak_rss / 2 ** 20, 1),
        }
        commits = [v for k, vs in ops.items() if k.startswith("chunk-") for v in vs]
        if commits:  # the chunked job's own figures, printed but not gated
            jobs = [sum(ops[k][i] for k in ops if k.startswith("chunk-") or k in ("compact", "read"))
                    for i in range(len(walls))]
            res["commit_s.p50"] = (statistics.median(commits), len(commits))
            res["commit_s.p90"] = (_quantile(commits, 0.9), len(commits))
            res["job_s"] = (statistics.median(jobs), len(jobs))
        out = {"host": host, "e2e": res, "setups": setups, "passes": walls,
               "ops": {k: statistics.median(v) for k, v in ops.items()}}
        if tracer is not None:
            out["layers"] = self.layer_metrics(tracer, traced_walls, walls, ops, sessions, extra)
            out["layers"]["mem.peak_rss_mb"] = res["peak_rss_mb"][0]
            out["spans"] = str(WORK / "traces" / f"{self.workload}-seed{args.seed}.json")
            out["span_problems"] = tracer.check_nesting()
            tracer.dump(out["spans"])
        return out

    def cardinalities(self) -> dict:
        """Point-tile pairs sharing a cell id: the candidates the cell
        equi-join of point_in_tile_join has to refine."""
        from pyspark.sql import functions as F

        from rasters_spark import cells
        from rasters_spark.tiles import tiles_with_cells

        from perfbench import workloads as wl

        work = self.work
        if not work.n_chunks:
            return {}
        pts = work.inp.points() if work.queries else \
            work.chunk_pts.filter(F.col("chunk").isin(wl.job_chunks(work.n_chunks)))
        tc = tiles_with_cells(work.inp.tiles()).groupBy("cell_id").agg(F.count("*").alias("nt"))
        pc = pts.select(cells.cell_id(F.col("x"), F.col("y"), wl.LEVEL).alias("cell_id")) \
            .groupBy("cell_id").agg(F.count("*").alias("np"))
        n = tc.join(pc, "cell_id").agg(F.sum(F.col("nt") * F.col("np"))).first()[0]
        return {"candidate_pairs": float(n or 0)}

    def layer_metrics(self, tracer, traced_walls, walls, ops, sessions, extra) -> dict:
        selfs = tracer.self_times()
        names = [m["name"] for m in LAYER_MAP]
        # the joins whose matches are counted against the candidate pairs
        match_queries = ("flagship",) if self.work.queries else ("chunk-",)
        per_pass = []
        for pid in range(len(traced_walls)):
            m = dict.fromkeys(names, 0.0)
            covered, writes, rows = 0.0, [], {}
            matched = knn_in = knn_out = refine_in = refine_out = 0.0
            for sp, st in zip(tracer.spans, selfs):
                if sp.pass_id != pid or sp.name == "pass" or sp.name.startswith("query."):
                    continue
                covered += st
                key = SPAN_METRIC.get(sp.name, sp.name + "_s")
                if key in m:
                    m[key] += st
                for ck, mk in COUNTER_METRIC.items():
                    m[mk] += sp.counters.get(ck, 0.0)
                rows[(sp.query, sp.name)] = sp.rows
                if sp.name == "tiles":
                    m["tiles.bytes_read"] += sp.counters.get("scan_bytes", 0.0)
                elif sp.name == "knn":
                    knn_in += sp.counters.get("join_rows", 0.0)
                    knn_out += sp.rows
                elif sp.name.startswith("joins."):
                    refine_in += sp.counters.get("python_rows_in", 0.0)
                    refine_out += sp.counters.get("python_rows_out", 0.0)
                elif sp.name == "point_join" and sp.query.startswith(match_queries):
                    matched += sp.rows
                elif sp.name == "tableio.write":
                    writes.append(st)
            if rows.get(("flagship", "tiles")):
                m["cells.fanout"] = rows[("flagship", "cells")] / rows[("flagship", "tiles")]
            m["knn.candidate_pairs"] = knn_in
            m["knn.useful_ratio"] = knn_out / knn_in if knn_in else 0.0
            m["joins.refine_rows_in"] = refine_in
            m["joins.refine_keep_ratio"] = refine_out / refine_in if refine_in else 0.0
            if extra.get("candidate_pairs"):
                m["point_join.candidate_pairs"] = extra["candidate_pairs"]
                m["point_join.match_ratio"] = matched / extra["candidate_pairs"]
            if writes:
                m["tableio.write_s"] = statistics.median(writes)
                m["tableio.files_per_commit"] = float(self.job_stats["files"])
                m["tableio.bytes_per_commit"] = float(self.job_stats["bytes"])
                m["tableio.ledger_bytes"] = float(self.job_stats["ledger"])
            m["trace.coverage"] = covered / traced_walls[pid]
            per_pass.append(m)
        out = {k: statistics.median(p[k] for p in per_pass) for k in names}
        out["session.start_s"] = statistics.median(sessions)
        out["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
        for name, vs in ops.items():
            if f"query.{name}_s" in out:
                out[f"query.{name}_s"] = statistics.median(vs)
        return out

    def teardown(self, jvm) -> None:
        """Stop Spark, then the gateway JVM and its Python workers, and
        wait until every one of them has exited."""
        from pyspark import SparkContext

        from perfbench import procstat

        pids = procstat.tree(jvm.pid)
        self.spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
        procstat.wait_gone(pids, 60)
        SparkContext._gateway = None
        SparkContext._jvm = None
        shutil.rmtree(self.tables, ignore_errors=True)


def _report(bench: Bench, out: dict, trace: bool) -> dict:
    """Print one line per metric; return the result object."""
    e2e, wl = out["e2e"], bench.workload
    print(f"# host {json.dumps(out['host'])}")
    print(f"# setups_s {[round(s, 4) for s in out['setups']]} passes_s {[round(p, 4) for p in out['passes']]}")
    print(f"# median operation walls {json.dumps({k: round(v, 3) for k, v in out['ops'].items()})}")
    for name, (value, n) in e2e.items():
        unit = "MB" if name == "peak_rss_mb" else "s"
        print(f"{wl:15s} {name:26s} {value:14.4f} {unit:6s} n={n}")
    print(f"{wl:15s} {'error_rate':26s} {bench.failed / max(bench.attempted, 1):14.4f} ratio  "
          f"n={bench.attempted} operations, {bench.failed} failed")
    print(f"{wl:15s} {'outputs_wrong':26s} {len(bench.wrong):14d} count  "
          f"n={len(bench.expected_rows)} outputs checked")
    for w in bench.wrong:
        print(f"# WRONG {w}")
    if trace:
        moves = {m["name"]: (m["unit"], ", ".join(m["moves"]) or "-") for m in LAYER_MAP}
        print(f"# layer table ({wl}): metric, value, unit -> what it should move")
        for k, v in out["layers"].items():
            print(f"{wl:15s} {k:26s} {v:14.4f} {moves[k][0]:6s} -> {moves[k][1]}")
        for p in out["span_problems"]:
            print(f"# SPAN {p}")
        print(f"# spans written to {out['spans']}")
        metrics = {m["name"]: {"value": out["layers"][m["name"]], "unit": m["unit"]} for m in LAYER_MAP}
    else:
        metrics = {name: {"value": e2e[name][0], "unit": unit} for name, unit in E2E}
    return {"correct": not bench.wrong and not out.get("span_problems"), "attempted": bench.attempted,
            "failed": bench.failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=0.1,
                    help="input scale factor: 0.1 = 20k tiles / 50k points (default)")
    args = ap.parse_args(argv)
    if not (ROOT / "rasters_spark" / "__init__.py").is_file():
        print(f"perfbench: no rasters_spark package under {ROOT}", file=sys.stderr)
        return 2
    _prepare_env()
    bench = Bench(args)
    out = bench.main()
    result = _report(bench, out, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] and not bench.failed else 1


if __name__ == "__main__":
    sys.exit(main())
