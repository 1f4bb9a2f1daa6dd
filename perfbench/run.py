"""Closed-loop benchmark of sedona_db_spark on local Spark.

    python3 perfbench/run.py --workload pages_pip --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --smoke

One driver process, one client: the next op starts when the previous one
(and its correctness check) has finished, and Spark runs one task slot per
core.  A run sets up the session and the workload's fixed layers, runs its
warm-up ops, then runs passes of the workload's ops until ``--seconds``
have elapsed (no op starts after that; a traced run finishes its pass).
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``).  See
perfbench/README.md for the workloads and what each metric should move.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "write_p50_s": "s",
    "joined_rows_per_s": "1/s", "input_rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "webtext.geocode_s": "s",
    "operators.spatial_join.call_s": "s",
    "operators.spatial_join.call_jobs": "count",
    "operators.spatial_join.candidate_pairs": "count",
    "operators.spatial_join.dedup_kept_ratio": "ratio",
    "operators.spatial_join.refine_hit_ratio": "ratio",
    "operators.spatial_join.broadcast_bytes": "B",
    "operators.knn.call_s": "s",
    "operators.knn.call_jobs": "count",
    "operators.knn.cached_bytes": "B",
    "grid.cell_ids_s": "s",
    "grid.covering_cells_s": "s",
    "grid.cells_per_geom": "count",
    "geometry.wkb.decode_s": "s",
    "geometry.kernels.points_in_polygon_s": "s",
    "geometry.kernels.geom_intersects_s": "s",
    "sources.icetable.append_s": "s",
    "sources.icetable.bytes_written_per_input_byte": "ratio",
    "sources.icetable.files_scanned_ratio": "ratio",
    "sql_frontend.sql_call_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.python_rows": "count",
    "spark.python_bytes": "B",
    "spark.core_idle_s": "s",
    "spark.driver_self_s": "s",
    "failed_op_ratio": "ratio",
    "trace.op_p50_s": "s",
    "trace.untraced_op_p50_s": "s",
    "trace.overhead_ratio": "ratio",
}

OP_TIMEOUT_S = 90.0      # an op still running after this is cancelled
STOP_AFTER_S = 130.0     # no new pass starts this long after process start


def _setup_environment(work_dir: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from it."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def _start_session(work_dir: str, ncpu: int):
    from sedona_db_spark.session import get_spark
    tmp = os.path.join(work_dir, "tmp")
    spark = get_spark(
        app_name="perfbench", master=f"local[{ncpu}]",
        shuffle_partitions=ncpu,
        extra_conf={
            # a fixed, pre-touched heap: the JVM's share of peak_rss_mb
            # then does not depend on when G1 chose to grow the heap (and
            # the shared host gets less than the engine's 8g default)
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                "-Xms2g -XX:+AlwaysPreTouch -XX:ReservedCodeCacheSize=1g "
                f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it started
    have exited."""
    from pyspark import SparkContext

    from perfbench.host import descendants, wait_gone
    children = descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()       # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    for pid in wait_gone(children, timeout_s=10):
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)
    wait_gone(children, timeout_s=5)


class Runner:
    """Runs ops one at a time and records each one's latency and outcome."""

    def __init__(self, spark, tracer=None):
        self.spark = spark
        self.tracer = tracer
        self.n_ops = 0

    def run_op(self, op_builder, pass_index: int, traced: bool) -> dict:
        from perfbench.host import cpu_times, steal_share
        op = op_builder()
        rec = {"pass": pass_index, "name": op.name, "kind": op.kind,
               "input_rows": op.input_rows, "traced": traced,
               "ok": False, "error": None}
        self.n_ops += 1
        t_prep = time.perf_counter()
        state = op.prepare()
        rec["prepare_s"] = time.perf_counter() - t_prep
        sc = self.spark.sparkContext
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        span = self.tracer.begin_op(self.n_ops, op.name) if traced else None
        timer.start()
        cpu0 = cpu_times()
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("call"):
                    x = op.call(state)
                with self.tracer.span("action"):
                    result = op.action(x)
            else:
                result = op.action(op.call(state))
        except Exception as e:  # the op failed: record it and go on
            timed_out = time.perf_counter() - t0 >= OP_TIMEOUT_S
            rec["error"] = ("timeout: " if timed_out else "raised: ") + \
                f"{type(e).__name__}: {str(e)[:300]}"
            traceback.print_exc(file=sys.stderr)
            result = None
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["cpu_steal"] = steal_share(cpu0, cpu_times())
            timer.cancel()
            if traced:
                self.tracer.end_timed(span)
        if result is not None:
            try:
                with (self.tracer.span("check") if traced
                      else contextlib.nullcontext()):
                    rec["error"] = op.check(result)
                rec["ok"] = rec["error"] is None
                rec["rows_out"] = op.rows_out(result)
                if traced and op.kind == "write":
                    from perfbench.tracing import ice_io_bytes
                    rec["io"] = ice_io_bytes(*result)
            except Exception as e:  # the check itself failed
                rec["error"] = f"check raised: {type(e).__name__}: {e}"
                traceback.print_exc(file=sys.stderr)
        rec["check_s"] = time.perf_counter() - t0 - rec["wall_s"]
        if traced:
            self.tracer.end_op(span)
            rec["span"] = span["id"]
        print(f"op {op.name} pass {pass_index}: {rec['wall_s']:.3f} s "
              f"(prepare {rec['prepare_s']:.3f} s, check {rec['check_s']:.3f} s, "
              f"cpu steal {rec['cpu_steal']:.3f})",
              file=sys.stderr, flush=True)
        if not rec["ok"]:
            print(f"FAILED op {op.name} (pass {pass_index}): {rec['error']}",
                  flush=True)
        self.spark.catalog.clearCache()
        return rec


def _tail(values: list[float], median: float) -> tuple[float, int]:
    """The highest of p99/p95/p90/p75 with at least ten samples beyond it;
    ``median`` when there are fewer than twenty samples."""
    n = len(values)
    for q in (99, 95, 90, 75):
        if n * (100 - q) / 100 >= 10:
            return statistics.quantiles(values, n=100,
                                        method="inclusive")[q - 1], q
    return median, 50


def end_to_end(records: list[dict], setup_s: float, peak_rss: int) -> dict:
    """Latencies and rates from medians per op name, so a run's figures do
    not depend on how many times each op happened to fit in ``--seconds``
    nor on one slow op."""
    ok = [r for r in records if r["ok"]]
    q = [r for r in ok if r["kind"] == "query"]
    w = [r for r in ok if r["kind"] == "write"]
    by_name: dict[str, list[dict]] = {}
    for r in q:
        by_name.setdefault(r["name"], []).append(r)

    def med(rs: list[dict], key: str) -> float:
        return statistics.median(r[key] for r in rs)
    # op_p50_s: median over the query names of each name's median latency
    p50 = statistics.median(med(rs, "wall_s") for rs in by_name.values()) \
        if by_name else 0.0
    tail, pct = _tail([r["wall_s"] for r in q], p50)
    print(f"op_tail_s is p{pct} of {len(q)} query ops", flush=True)
    # rows per second of query time in one typical pass: every query name
    # once, each at its median rows and its median latency
    busy = sum(med(rs, "wall_s") for rs in by_name.values()) or float("inf")
    return {
        "setup_s": setup_s,
        "op_p50_s": p50,
        "op_tail_s": tail,
        "write_p50_s": statistics.median([r["wall_s"] for r in w]) if w else 0.0,
        "joined_rows_per_s": sum(med(rs, "rows_out")
                                 for rs in by_name.values()) / busy,
        "input_rows_per_s": sum(med(rs, "input_rows")
                                for rs in by_name.values()) / busy,
        "peak_rss_mb": peak_rss / 2 ** 20,
    }


def _run(args) -> dict:
    from perfbench.host import (RssSampler, cpu_times, noise_control,
                                process_start_time, steal_share)

    t_proc = process_start_time()
    ncpu = len(os.sched_getaffinity(0))
    work_dir = os.path.join(BENCH_DIR, ".work",
                            f"{args.workload}-{args.seed}-{os.getpid()}")
    _setup_environment(work_dir)
    noise_before = noise_control()

    from perfbench.workloads import Ctx, WORKLOADS

    def phase(name):
        print(f"phase {name} at {time.time() - t_proc:.2f} s",
              file=sys.stderr, flush=True)
    phase("imports")
    spark = _start_session(work_dir, ncpu)
    phase("session")
    try:
        ctx = Ctx(spark=spark, seed=args.seed, work_dir=work_dir,
                  tiny=args.tiny)
        wl = WORKLOADS[args.workload](ctx)
        tracer = None
        if args.trace:
            from perfbench.tracing import Tracer, per_layer, run_probes
            tracer = Tracer(spark)
        runner = Runner(spark, tracer)
        with RssSampler() as rss:
            wl.setup()
            phase("workload setup")
            warm = [runner.run_op(b, -1, False) for b in wl.warmup_ops()]
            setup_s = time.time() - t_proc
            if args.inputs_digest:
                print("inputs_digest", wl.inputs_digest(), flush=True)
            records, probes = [], []
            cpu0 = cpu_times()
            t_loop = time.perf_counter()
            i = 0
            while True:
                # traced runs trace passes 0 and 3 of each four (ABBA), so
                # the tracing overhead is measured in the same process and
                # the warming from one pass to the next cancels out
                traced = bool(args.trace) and i % 4 in (0, 3)
                if traced:
                    tracer.install()
                try:
                    for b in wl.pass_ops(i):
                        # untraced runs stop at the first op that would
                        # start after --seconds; traced runs finish the pass
                        if not args.trace and \
                                time.perf_counter() - t_loop >= args.seconds:
                            break
                        records.append(runner.run_op(b, i, traced))
                finally:
                    if traced:
                        tracer.uninstall()
                if traced:
                    probes.append(run_probes(wl.probe_inputs(i)))
                i += 1
                if time.perf_counter() - t_loop >= args.seconds and \
                        (not args.trace or i >= 4):
                    break
                if time.time() - t_proc > STOP_AFTER_S:
                    break
            peak = rss.peak
        loop_s = time.perf_counter() - t_loop
        steal = steal_share(cpu0, cpu_times())
    finally:
        _stop_session(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    noise_after = noise_control()

    all_ops = warm + records
    failed = [r for r in all_ops if not r["ok"]]
    print(f"workload {args.workload} seed {args.seed}: {i} passes, "
          f"{len(records)} ops in {loop_s:.1f} s", flush=True)
    print("host_noise", json.dumps({"before": noise_before,
                                    "after": noise_after,
                                    "loop_cpu_steal": round(steal, 4)}),
          flush=True)
    if args.trace:
        metrics = per_layer(records, probes, tracer, ncpu)
        metrics["failed_op_ratio"] = len(failed) / len(all_ops)
        units = PER_LAYER
        out_dir = os.path.join(BENCH_DIR, "results")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "host_noise": {"before": noise_before,
                                      "after": noise_after},
                       "ops": records, "probes": probes,
                       "spans": tracer.spans}, f)
    else:
        metrics = end_to_end(records, setup_s, peak)
        units = END_TO_END
    for name, unit in units.items():
        print(f"metric {name} = {metrics[name]:.6g} {unit}", flush=True)
    return {"correct": not failed, "attempted": len(all_ops),
            "failed": len(failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                        for k in units}}


def smoke() -> int:
    """Every workload at tiny size, traced and untraced: every metric named
    in BENCHMARK.json is printed with its unit and every gate passes; the
    same seed reproduces the generated inputs and another seed changes
    them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    assert want[0] == END_TO_END and want[1] == PER_LAYER, \
        "BENCHMARK.json metric names or units differ from perfbench/run.py"
    from perfbench.workloads import WORKLOADS
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(WORKLOADS)
    for wl in WORKLOADS:
        digests = {}
        for seed, trace in ((1, 0), (1, 1), (2, 0)):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(seed), "--seconds", "1", "--trace",
                   str(trace), "--tiny", "--inputs-digest"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                 text=True, timeout=300)
            assert out.returncode == 0, f"{wl}: exit {out.returncode}\n" \
                + out.stderr[-3000:]
            lines = out.stdout.strip().splitlines()
            res = json.loads(lines[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, f"{wl}: {lines}"
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[trace], f"{wl} trace {trace}: {got}"
            digests[(seed, trace)] = next(
                x.split()[1] for x in lines if x.startswith("inputs_digest"))
            print(f"smoke {wl} seed {seed} trace {trace}: ok "
                  f"({res['attempted']} ops)", flush=True)
        assert digests[(1, 0)] == digests[(1, 1)], f"{wl}: seed not repeatable"
        assert digests[(1, 0)] != digests[(2, 0)], f"{wl}: seed has no effect"
    print("smoke ok")
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true",
                   help="tiny inputs (smoke mode)")
    p.add_argument("--inputs-digest", action="store_true",
                   help="print a digest of the generated inputs")
    p.add_argument("--smoke", action="store_true",
                   help="run every workload at tiny size and check the output")
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "sedona_db_spark",
                                       "__init__.py")):
        print(f"perfbench: no sedona_db_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.smoke:
        return smoke()
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result = _run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
