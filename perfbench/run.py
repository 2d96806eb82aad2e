"""spark-pipz benchmark: one workload, one seed, one run.

Usage (from the repository root):

    python3 perfbench/run.py --workload graph_rounds --seed 1 --seconds 24 --trace 0

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics of traced passes interleaved with the timed ones
(and writes their spans under ``.bench_build/perfbench/``). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 1
when any output check failed or any operation raised, and 2 when the
repository or its fixed tables are missing. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402
from spans import Recorder  # noqa: E402
from workloads import WORKLOADS, Op, Workload  # noqa: E402

E2E_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_s.p50": "s",
    "query_s.tail": "s",
    "peak_rss_mb": "MB",
}

LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.build_self_s": "s",
    "queries.build_jobs": "count",
    "queries.build_eager_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.run_s": "s",
    "exec.slot_util": "ratio",
    "exec.sched_delay_s": "s",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_read_records": "count",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.task_skew": "ratio",
    "jvm.gc_s": "s",
    "datapipe.graph.round_s": "s",
    "datapipe.graph.round_jobs": "count",
    "streaming.start_wait_s": "s",
    "streaming.batches": "count",
    "streaming.nodata_batches": "count",
    "streaming.trigger_ms.p50": "ms",
    "streaming.trigger_ms.tail": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.checkpoint_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "trace.overhead_s": "s",
}

# session set-ups per run; setup_s takes their median
SETUP_ROUNDS = 3


class Missing(Exception):
    """The input tables are not where the correctness gate reads them."""


def pin_environment(root: str, work: str) -> int:
    """Fix everything the session reads from the environment: master
    and shuffle partitions at the core count this process may use, and every
    scratch, checkpoint, landing, warehouse and temp dir under
    ``work`` inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM="2g",
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher's included
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        # Python workers (UDFs, mapInPandas) import pipz_spark too
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
    )
    # pipz_spark's scratch dirs (stream checkpoints, landing sinks,
    # replay files) come from tempfile
    tempfile.tempdir = tmp
    return cores


class Bench:
    def __init__(self, root: str, cores: int, wl: Workload, seed: int, seconds: int,
                 trace: bool) -> None:
        self.root, self.cores = root, cores
        self.wl, self.seed, self.trace = wl, seed, trace
        self.rng = random.Random(seed)
        # fixed pass count per workload and run length: every run makes
        # the same number of calls, whatever the host speed
        self.passes = max(1, round(seconds / wl.pass_s))
        self.spark = None
        self.edges: dict[str, list[tuple]] = {}

    # ---- set-up ---------------------------------------------------
    def start_session(self) -> None:
        """Stop the previous session, if any, and start a new one."""
        from pipz_spark.session import get_session

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_session(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed heap and young generation, so the JVM's peak RSS
                # follows the workload rather than heap-resizing decisions
                "spark.driver.extraJavaOptions": "-Xms2g -Xmn512m",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")

    def warm_session(self) -> None:
        """Initialise the noop sink, whose first write in a session
        pays its data source's set-up, so the first timed operation
        does not; and build the stream workload's fixture, the shared
        events replay the rigs read. Every other first-use cost is
        paid by the untimed warm-up passes."""
        self.spark.range(100).write.format("noop").mode("overwrite").save()
        if self.wl.concurrent:
            from pipz_spark.streaming.streams import replay_events_files

            replay_events_files(self.spark, self.sf, order_by_ts=True)

    # ---- one operation --------------------------------------------
    def build(self, op: Op):
        from pipz_spark import datapipe
        from pipz_spark.queries import QUERIES

        if op.kind == "sweep":
            return getattr(datapipe, op.fn)(self.sweep_edges(op.fn), iters=op.rounds)
        return QUERIES[op.name].build(self.spark, self.sf)

    def sweep_edges(self, fn: str):
        """The input frame of dp_pagerank (fn="pagerank": packed
        customer/supplier ids, both directions) or dp_label_prop
        (string ids, one direction)."""
        from pyspark.sql import functions as F

        from pipz_spark.sources.catalog import load_table

        o = load_table(self.spark, "orders", self.sf)
        li = load_table(self.spark, "lineitem", self.sf)
        if fn == "pagerank":
            from pipz_spark.queries import _cs_pairs_long

            pairs = _cs_pairs_long(o, li)
            return pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        return (
            o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
            .select(F.col("o_custkey").alias("_ck"), F.col("l_suppkey").alias("_sk"))
            .distinct()
            .select(
                F.concat(F.lit("c"), F.col("_ck").cast("string")).alias("src"),
                F.concat(F.lit("s"), F.col("_sk").cast("string")).alias("dst"),
            )
        )

    def run_op(self, op: Op, op_id: str, rec: Recorder, collect: bool = False) -> dict:
        """Build the operation and land its result: in the noop sink,
        or collected to pandas for the output check. Returns the
        sample: start, end, error, and the collected frame."""
        from harvest import OP_PROPERTY

        sc = self.spark.sparkContext
        out = {"op": op, "id": op_id, "error": None, "pdf": None, "schema": None}
        traced = rec.enabled
        if traced:
            sc.setLocalProperty(OP_PROPERTY, op_id)
        if op.kind == "sweep":
            layer = "datapipe.graph"
        else:
            layer = "streaming" if self.wl.concurrent else "queries"
        out["start"] = time.time()
        try:
            with rec.span(op_id, None, op.name, "op") as root:
                out["root"] = root
                if traced:
                    sc.setJobGroup(op_id + "|build", op.name)
                with rec.span(op_id, root and root.id, "build", layer) as s:
                    out["build"] = s
                    df = self.build(op)
                if traced and not self.wl.concurrent:
                    with rec.span(op_id, root.id, "plan", "catalyst") as s:
                        s.attrs.update(self.probe.catalyst_ms(df))
                if traced:
                    sc.setJobGroup(op_id + "|sink", op.name)
                with rec.span(op_id, root and root.id, "sink", "exec") as s:
                    out["sink"] = s
                    if collect:
                        out["schema"] = df.schema
                        out["pdf"] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing operation is counted; the pass goes on
            out["error"] = traceback.format_exc()
            print(f"operation {op.name} raised:\n{out['error']}", file=sys.stderr)
        out["end"] = time.time()
        if not self.wl.concurrent:
            # rigs hold no datapipe caches, and a global release would
            # race the other rigs' step-internal persists
            from pipz_spark.datapipe import release_caches

            release_caches()
        return out

    def run_pass(self, tag: str, rec: Recorder, collect: bool = False) -> tuple[float, list[dict]]:
        """One pass over the workload in a seed-drawn order; returns
        (pass wall, samples in submission order)."""
        order = list(self.wl.ops)
        self.rng.shuffle(order)
        t0 = time.time()
        if self.wl.concurrent:
            with ThreadPoolExecutor(max_workers=self.cores) as ex:
                futs = [ex.submit(self.run_op, op, f"{tag}:{op.name}", rec, collect) for op in order]
                samples = [f.result() for f in futs]
        else:
            samples = [self.run_op(op, f"{tag}:{op.name}", rec, collect) for op in order]
        wall = time.time() - t0
        if self.wl.concurrent:
            from pipz_spark.datapipe import release_caches

            release_caches()
        return wall, samples

    # ---- output check ---------------------------------------------
    def check(self, samples: list[dict]) -> dict[str, list[str]]:
        from check import OracleChecker, sweep_issues

        bad: dict[str, list[str]] = {}
        checker = OracleChecker(self.cc, self.sf)
        try:
            for s in samples:
                op = s["op"]
                if s["error"] is not None:
                    bad[op.name] = ["raised: " + s["error"].strip().splitlines()[-1]]
                    continue
                try:
                    if op.kind == "sweep":
                        issues = sweep_issues(op.fn, op.rounds, s["pdf"], self.collected_edges(op.fn))
                    else:
                        issues = checker.issues(op.name, s["pdf"], s["schema"])
                except Exception:  # an oracle that cannot run is a failed check
                    issues = ["check raised: " + traceback.format_exc().strip().splitlines()[-1]]
                if issues:
                    bad[op.name] = issues
        finally:
            checker.close()
        return bad

    def collected_edges(self, fn: str) -> list[tuple]:
        if fn not in self.edges:
            pdf = self.sweep_edges(fn).toPandas()
            self.edges[fn] = list(pdf.itertuples(index=False, name=None))
        return self.edges[fn]

    # ---- the run --------------------------------------------------
    def run(self) -> dict:
        t_import = time.time()
        import pipz_spark.queries  # noqa: F401

        import_s = time.time() - t_import

        import bench  # bench.py at the repository root: _calibration_probe
        from check import load_check_correctness

        from harvest import SparkProbe, StreamEvents, cpu_ticks, loadavg, python_maxrss_mb

        # the tables the repository's correctness gate reads
        self.cc = load_check_correctness(self.root)
        self.sf = self.cc.SF_DIR
        for t in ("orders", "lineitem", "events", "documents", "embeddings"):
            if not os.path.exists(os.path.join(self.sf, f"{t}.parquet")):
                raise Missing(f"input table {t} not found under {self.sf}")
        host = {"nproc": self.cores, "loadavg_start": loadavg()}

        session_s = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.time()
            self.start_session()
            session_s.append(time.time() - t0)
        t0 = time.time()
        self.warm_session()
        warm_actions_s = time.time() - t0
        self.probe = SparkProbe(self.spark)
        host["cal_s"] = bench._calibration_probe(self.spark)

        off = Recorder(False)
        warm_s, warm = self.run_pass("warm", off, collect=True)
        bad = self.check(warm)
        for s in warm:
            s["pdf"] = None
        ops = {s["op"].name: [s["end"] - s["start"]] for s in warm}
        # the JIT is still speeding the operations up after the first
        # pass, whose first operation also pays the cold start
        for k in range(1, self.wl.warm_passes):
            more_s, _ = self.run_pass(f"warm{k}", off)
            warm_s += more_s
        setup_s = import_s + statistics.median(session_s) + warm_actions_s + warm_s

        # with tracing, each untraced pass is followed by a traced one,
        # so both sides see the same JIT and cache warmth
        if self.trace:
            listener = StreamEvents(self.spark)
            self.spark.streams.addListener(listener)
            rec = Recorder(True)
        walls, samples, traced_walls, traced_samples, traced = [], [], [], [], []
        gc_s = 0.0
        steal0, total0 = cpu_ticks()
        for p in range(self.passes):
            gc0 = self.probe.gc_s()
            wall, got = self.run_pass(f"t{p}", off)
            gc_s += self.probe.gc_s() - gc0
            walls.append(wall)
            samples += got
            if self.trace:
                listener.clear()
                gc0 = self.probe.gc_s()
                wall, got = self.run_pass(f"x{p}", rec)
                gc = self.probe.gc_s() - gc0
                self.probe.drain()
                traced_walls.append(wall)
                traced_samples += got
                traced.append(self.layer_metrics(rec, got, listener, gc))
        host["gc_s"] = gc_s
        steal1, total1 = cpu_ticks()
        host["steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        for s in samples:
            ops[s["op"].name].append(s["end"] - s["start"])

        result = {
            "host": host,
            "setup": {
                "import_s": import_s,
                "session_s": session_s,
                "warm_actions_s": warm_actions_s,
                "warmup_pass_s": warm_s,
            },
            "bad": bad,
            "ops": ops,
            "walls": walls,
            "samples": samples,
            "traced_samples": traced_samples,
            "setup_s": setup_s,
        }
        if self.trace:
            result["layers"] = {
                k: statistics.median(m[k] for m in traced) for k in LAYER_UNITS if k != "trace.overhead_s"
            }
            result["layers"]["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(walls)
            out_dir = os.path.join(self.root, ".bench_build", "perfbench")
            os.makedirs(out_dir, exist_ok=True)
            path = os.path.join(out_dir, f"trace_{self.wl.name}_seed{self.seed}.json")
            rec.write(path)
            result["trace_path"] = os.path.relpath(path, self.root)
        host["loadavg_end"] = loadavg()
        result["peak_rss_mb"] = self.probe.jvm_hwm_mb() + python_maxrss_mb()
        return result

    # ---- per-layer metrics of one traced pass ---------------------
    def layer_metrics(self, rec: Recorder, samples: list[dict], listener, gc_s: float) -> dict:
        m = dict.fromkeys(LAYER_UNITS, 0.0)
        m["jvm.gc_s"] = gc_s
        started = {row["op"]: row for row in listener.started}
        op_of_run = {row["run_id"]: row["op"] for row in listener.started}
        sweep_points: dict[str, list[tuple[float, float, float]]] = {}
        stages_all = []
        for s in samples:
            op, op_id = s["op"], s["id"]
            build, sink = s.get("build"), s.get("sink")
            build_jobs = self.probe.jobs(op_id + "|build")
            sink_jobs = self.probe.jobs(op_id + "|sink")
            stream_jobs = [
                j for run_id, o in op_of_run.items() if o == op_id for j in self.probe.jobs(run_id)
            ]
            for parent, jobs, layer in (
                (build, build_jobs + stream_jobs, "exec"),
                (sink, sink_jobs, "exec"),
            ):
                for j in jobs:
                    rec.add(op_id, parent and parent.id, f"job {j.job_id}", layer, j.start, j.end,
                            stages=len(j.stages), tasks=sum(st.tasks for st in j.stages))
            jobs = build_jobs + sink_jobs + stream_jobs
            intervals = [(j.start, j.end) for j in jobs]
            if build is not None and op.kind == "query" and not self.wl.concurrent:
                eager = [(j.start, j.end) for j in build_jobs]
                m["queries.build_s"] += build.seconds
                m["queries.build_self_s"] += stats.self_time(build.start, build.end, eager)
                m["queries.build_jobs"] += len(build_jobs)
                m["queries.build_eager_s"] += stats.union_length(eager, build.start, build.end)
            for c in rec.children(s["root"]) if s.get("root") else ():
                if c.layer == "catalyst":
                    for phase in ("analysis", "optimization", "planning"):
                        m[f"catalyst.{phase}_ms"] += c.attrs.get(phase, 0.0)
            if intervals:
                m["exec.s"] += stats.union_length(intervals, min(a for a, _ in intervals),
                                                  max(b for _, b in intervals))
            m["exec.jobs"] += len(jobs)
            for j in jobs:
                stages_all += j.stages
            if op.kind == "sweep" and s["error"] is None:
                sweep_points.setdefault(op.fn, []).append(
                    (op.rounds, s["end"] - s["start"], len(jobs))
                )
            if op_id in started:
                m["streaming.start_wait_s"] += started[op_id]["t"] - s["start"]
                rec.add(op_id, s["root"].id, "start wait", "streaming", s["start"], started[op_id]["t"])
        m["exec.stages"] = len(stages_all)
        m["exec.tasks"] = sum(st.tasks for st in stages_all)
        m["exec.run_s"] = sum(st.run_s for st in stages_all)
        m["exec.sched_delay_s"] = sum(st.sched_delay_s for st in stages_all)
        m["exec.shuffle_read_bytes"] = sum(st.shuffle_read_bytes for st in stages_all)
        m["exec.shuffle_read_records"] = sum(st.shuffle_read_records for st in stages_all)
        m["exec.shuffle_write_bytes"] = sum(st.shuffle_write_bytes for st in stages_all)
        m["exec.spill_bytes"] = sum(st.spill_bytes for st in stages_all)
        m["exec.task_skew"] = max((st.skew for st in stages_all if st.tasks > 1), default=1.0)
        m["exec.slot_util"] = stats.slot_util(m["exec.run_s"], m["exec.s"], self.cores)
        if sweep_points:
            m["datapipe.graph.round_s"] = statistics.fmean(
                stats.slope((k, w) for k, w, _ in pts) for pts in sweep_points.values()
            )
            m["datapipe.graph.round_jobs"] = statistics.fmean(
                stats.slope((k, n) for k, _, n in pts) for pts in sweep_points.values()
            )
        progress = [p for p in listener.progress if p["run_id"] in op_of_run]
        if progress:
            trig = [p["duration_ms"].get("triggerExecution", 0) for p in progress]
            m["streaming.batches"] = sum(1 for p in progress if p["rows"] > 0)
            m["streaming.nodata_batches"] = sum(1 for p in progress if p["rows"] == 0)
            m["streaming.trigger_ms.p50"] = statistics.median(trig)
            m["streaming.trigger_ms.tail"] = stats.tail(trig)[0]
            m["streaming.add_batch_ms"] = sum(p["duration_ms"].get("addBatch", 0) for p in progress)
            m["streaming.planning_ms"] = sum(p["duration_ms"].get("queryPlanning", 0) for p in progress)
            m["streaming.checkpoint_ms"] = sum(
                p["duration_ms"].get("walCommit", 0) + p["duration_ms"].get("commitOffsets", 0)
                for p in progress
            )
            m["streaming.state_commit_ms"] = sum(p["state_commit_ms"] for p in progress)
            last = {}
            for p in progress:
                last[p["run_id"]] = p["state_rows"]
            m["streaming.state_rows"] = sum(last.values())
        return m

    def stop(self) -> None:
        """Stop the session and the JVM it launched, and wait for it."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def report(args, wl: Workload, res: dict) -> tuple[dict, list[str]]:
    """(result object, human-readable lines)."""
    bad = res["bad"]
    # latencies from the untraced passes only, one per operation (its
    # median over the passes); traced calls count as attempted
    # operations too
    lat = list(stats.op_medians(
        (s["op"].name, s["end"] - s["start"]) for s in res["samples"] if s["error"] is None
    ).values())
    attempted, failed, ratio = stats.failed_ratio(
        (s["error"] is not None, s["op"].name in bad)
        for s in res["samples"] + res["traced_samples"]
    )
    tail_v, tail_pct, tail_n = stats.tail(lat) if lat else (0.0, 100.0, 0)
    e2e = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["walls"]),
        "query_s.p50": statistics.median(lat) if lat else 0.0,
        "query_s.tail": tail_v,
        "peak_rss_mb": res["peak_rss_mb"],
    }
    host = res["host"]
    lines = [
        f"perfbench workload={wl.name} seed={args.seed} trace={args.trace} "
        f"nproc={host['nproc']} passes={len(res['walls'])} ops/pass={len(wl.ops)}",
        f"host.cal_s {host['cal_s']} loadavg {host['loadavg_start']} -> {host['loadavg_end']} "
        f"timed passes: jvm gc {host['gc_s']:.3f} s, host cpu steal {host['steal_share']:.1%}",
        "setup: import {import_s:.3f} s + median session {sess:.3f} s of {rounds} "
        "+ warm-up actions {warm_actions_s:.3f} s + warm-up passes {warmup_pass_s:.3f} s".format(
            sess=statistics.median(res["setup"]["session_s"]),
            rounds=[round(x, 3) for x in res["setup"]["session_s"]],
            **res["setup"],
        ),
    ]
    for k, v in e2e.items():
        extra = (
            f"  (p{tail_pct:g} of {tail_n} operations' medians over {len(res['walls'])} passes)"
            if k == "query_s.tail" else ""
        )
        lines.append(f"{k:<16} {v:.6f} {E2E_UNITS[k]}{extra}")
    lines.append(f"{'failed_ratio':<16} {ratio:.6f} ratio  ({failed} of {attempted} operations)")
    for name, (cold, *warm) in res["ops"].items():
        lines.append(
            f"  op {name:<32} warm-up {cold:.3f} s  timed {' '.join(f'{t:.3f}' for t in warm)} s"
        )
    for name, issues in sorted(bad.items()):
        lines.append(f"CHECK FAILED {name}: " + "; ".join(issues[:3]))
    if args.trace:
        for k, v in res["layers"].items():
            lines.append(f"{k:<28} {v:.6f} {LAYER_UNITS[k]}")
        lines.append(f"spans written to {res['trace_path']}")
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return out, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # a SIGTERM unwinds like an error, so the JVM is stopped and the
    # run's scratch dir removed
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pipz_spark", "__init__.py")):
        print("perfbench: run from the repository root (pipz_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    wl = WORKLOADS[args.workload]
    work = os.path.join(root, ".bench_build", "perfbench", f"run-{os.getpid()}")
    cores = pin_environment(root, work)
    b = Bench(root, cores, wl, args.seed, args.seconds, bool(args.trace))
    try:
        res = b.run()
    except Missing as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        b.stop()
        shutil.rmtree(work, ignore_errors=True)
    out, lines = report(args, wl, res)
    lines.append(f"run took {time.time() - T0:.1f} s")
    print("\n".join(lines))
    print(json.dumps(out), flush=True)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
