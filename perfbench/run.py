"""Benchmark harness: one workload, one closed-loop client, one process.

    python3 perfbench/run.py --workload pgq_interactive --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It writes its inputs under
`.perfbench_work/` there, starts a local Spark session with one core per
CPU, sets up (views, graph DDL, untimed warm-up ops covering every op
type), then runs whole seeded rounds of ops back to back: at least the
workload's number of rounds, and more until `--seconds` have passed. A
workload whose loop never writes then runs its write probe
(re-registrations, each followed by a read) for the write metrics.
Every result is checked against DuckDB after the loop. The last line of
stdout is one JSON object; `--trace 0` reports the end-to-end metrics and
`--trace 1` the per-layer ones (see README.md).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DEFAULT_SF = 0.01


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) for the highest percentile
    with at least ten samples beyond it. Below twenty samples that
    percentile would sit under the median, so the maximum stands in."""
    xs = sorted(values)
    n = len(xs)
    if n < 20:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


class Harness:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.cores = len(os.sched_getaffinity(0))
        self.records: list[dict] = []  # one per executed op, warm ops included
        self.rec = None  # trace.Recorder while the traced loop runs

    # -- set-up ---------------------------------------------------------
    def start(self, n_rows: dict) -> dict:
        t0 = time.perf_counter()
        from duckpgq_extension_spark import PGQSession, get_spark

        import workloads

        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        self.spark = get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.driver.extraJavaOptions": java_opts,
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        session_s = time.perf_counter() - t0
        self.ctx = workloads.Context(self.spark, PGQSession(self.spark), self.data_dir, n_rows)
        self.ctx.register()
        self.workload = workloads.WORKLOADS[self.args.workload](
            self.ctx, random.Random(self.args.seed))
        for op in self.workload.warm_ops():
            self.run_op(op, phase="warm")
        return {"setup_s": time.perf_counter() - t0, "session_s": session_s}

    # -- one op ---------------------------------------------------------
    def run_op(self, op, phase: str) -> dict:
        untimed = 0.0
        if op.prepare is not None:
            u0 = time.perf_counter()
            op.prepare()
            untimed = time.perf_counter() - u0
        op.orders_files = list(self.ctx.orders_files)
        op_id = len(self.records)
        r = {"id": op_id, "type": op.type, "kind": op.kind, "phase": phase,
             "after_write": op.after_write, "untimed": untimed, "error": None, "rows": None}
        traced = self.rec is not None
        if traced:
            import tracing

            self.rec.op_id = op_id
            self.stats.begin(f"perfbench-{op_id}")
        t0 = time.perf_counter()
        try:
            df = op.build()
            if df is not None:
                if traced:
                    tracing.plan(df)
                # collect() evaluates every output column (count() would
                # let Catalyst prune them) and hands back the rows to check
                r["rows"] = df.collect()
        except Exception:  # noqa: BLE001 - a failed op is counted, not fatal
            df = None
            r["error"] = traceback.format_exc()
            log(f"op {op_id} ({op.type}) raised:\n{r['error']}")
        r["lat"] = time.perf_counter() - t0
        if traced:
            if df is not None:
                # read the phase times and count joins outside the timed span
                r["catalyst"] = tracing.catalyst(df)
            r["spark"] = self.stats.end(f"perfbench-{op_id}")
            r["cache_misses"] = self.watch.new_entries()
            self.rec.op_id = None
        r["op"] = op
        self.records.append(r)
        return r

    # -- the closed loop --------------------------------------------------
    def loop(self, phase: str) -> dict:
        """Whole rounds back to back: at least the workload's `rounds`, and
        more until `--seconds` have passed."""
        t0 = time.perf_counter()
        untimed = 0.0
        done: list[dict] = []
        for n in itertools.count(1):
            for op in self.workload.round():
                r = self.run_op(op, phase)
                untimed += r["untimed"]
                done.append(r)
            if n >= self.workload.rounds and time.perf_counter() - t0 - untimed >= self.args.seconds:
                break
        wall = time.perf_counter() - t0 - untimed
        return {"ops": done, "wall": wall, "ops_per_s": len(done) / wall}

    # -- correctness ----------------------------------------------------
    def check(self) -> tuple[int, int]:
        """(attempted, failed) over every op that has an oracle. An op
        fails when it raised or its rows differ from DuckDB's."""
        from oracle import Oracle, canonical, digest, load_digests

        digests = load_digests(self.args.sf)
        oracle = Oracle(self.data_dir)
        attempted = failed = 0
        try:
            for r in self.records:
                op, rows = r.pop("op"), r.pop("rows")
                r["n_rows"] = None if rows is None else len(rows)
                if op.kind == "read" and op.digest_key is None and op.expect is None:
                    continue  # a warm-up variant without an oracle
                attempted += 1
                ok = r["error"] is None
                if ok and op.digest_key is not None:
                    ok = digest(rows) == digests.get(op.digest_key)
                elif ok and op.expect is not None:
                    oracle.set_orders(op.orders_files)
                    ok = canonical(rows) == canonical(op.expect(oracle))
                r["ok"] = ok
                if not ok:
                    failed += 1
                    if r["error"] is None:
                        log(f"op {r['id']} ({r['type']}) returned a wrong result")
        finally:
            oracle.close()
        return attempted, failed

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:  # noqa: BLE001 - make sure it is gone
                    proc.kill()
                    proc.wait()


def end_to_end(setup: dict, loop: dict, probe: list[dict]) -> tuple[dict, dict]:
    ops = loop["ops"]
    lat = [r["lat"] for r in ops]
    reads = [r["lat"] for r in ops if r["kind"] == "read"]
    # a workload whose loop never writes measures the write path after it
    # (graph_kernels: re-registrations, each followed by a read)
    writing = ops if any(r["kind"] == "write" for r in ops) else probe
    writes = [r["lat"] for r in writing if r["kind"] == "write"]
    after = [r["lat"] for r in writing if r["after_write"]]
    tail_s, tail_pct, beyond = tail(reads)
    m = {
        "setup_s": (setup["setup_s"], "s"),
        "ops_per_s": (loop["ops_per_s"], "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "read_p50_s": (statistics.median(reads), "s"),
        "read_tail_s": (tail_s, "s"),
        "write_p50_s": (statistics.median(writes), "s"),
        "read_after_write_p50_s": (statistics.median(after), "s"),
    }
    detail = {"read_tail_percentile": tail_pct, "read_tail_samples_beyond": beyond,
              "read_samples": len(reads)}
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}, detail


def per_layer(h: Harness, setup: dict, base: dict, traced: dict, extra: dict) -> dict:
    ops = traced["ops"]
    n = len(ops)
    spans = [h.rec.per_op(r["id"]) for r in ops]

    def span_sum(name: str, key: str) -> float:
        return sum(s.get(name, {}).get(key, 0.0) for s in spans)

    def mean(key: str, sub: str) -> float:
        return sum(r[key][sub] for r in ops) / n

    planned = [r for r in ops if "catalyst" in r]
    compiled = [r for r, s in zip(ops, spans) if "compiler.compile" in s]

    def cat(ph: str) -> float:
        return sum(r["catalyst"][ph] for r in planned) / max(1, len(planned))

    gap = [r["lat"] - r["spark"]["run_s"] / h.cores for r in ops]

    def med_type(t: str, values=None) -> float:
        xs = [v for r, v in zip(ops, values or [r["lat"] for r in ops]) if r["type"] == t]
        return statistics.median(xs) if xs else 0.0

    m = {
        "session.start_s": (setup["session_s"], "s"),
        "sources.register_s": (statistics.median(r[0] for r in h.ctx.registrations), "s"),
        "catalog.ddl_s": (statistics.median(r[1] for r in h.ctx.registrations), "s"),
        "parser.parse_ms": (1e3 * span_sum("parser.parse", "total") / n, "ms"),
        "api.sql_rewrite_ms": (1e3 * span_sum("api.sql", "self") / n, "ms"),
        "compiler.compile_ms": (1e3 * span_sum("compiler.compile", "self") / n, "ms"),
        "compiler.plan_joins": (
            sum(r["catalyst"]["joins"] for r in compiled) / max(1, len(compiled)), "count"),
        "catalyst.analysis_ms": (cat("analysis"), "ms"),
        "catalyst.optimization_ms": (cat("optimization"), "ms"),
        "catalyst.planning_ms": (cat("planning"), "ms"),
        "spark.jobs_per_op": (mean("spark", "jobs"), "count"),
        "spark.stages_per_op": (mean("spark", "stages"), "count"),
        "spark.tasks_per_op": (mean("spark", "tasks"), "count"),
        "spark.executor_run_s_per_op": (mean("spark", "run_s"), "s"),
        "spark.executor_cpu_s_per_op": (mean("spark", "cpu_s"), "s"),
        "spark.shuffle_read_mb_per_op": (mean("spark", "shuffle_read_mb"), "MB"),
        "spark.shuffle_write_mb_per_op": (mean("spark", "shuffle_write_mb"), "MB"),
        "spark.driver_gap_s_per_op": (sum(gap) / n, "s"),
        "spark.empty_job_ms": (extra["empty_job_ms"], "ms"),
        "paths.materialize_calls_per_op": (span_sum("paths.materialize", "calls") / n, "count"),
        "paths.checkpoint_with_count_calls_per_op": (
            span_sum("paths.checkpoint_with_count", "calls") / n, "count"),
        "paths.materialize_s_per_op": (span_sum("paths.materialize", "total") / n, "s"),
        "paths.adjacency_cache_misses_per_op": (
            sum(r["cache_misses"] for r in ops) / n, "count"),
        "dedup.verify_candidates": (extra.get("verify_candidates", 0), "count"),
        "dedup.verify_yield": (extra.get("verify_yield", 0.0), "ratio"),
        "jvm.gc_s_per_op": (extra["gc_s"] / n, "s"),
        "jvm.storage_used_mb_end": (extra["storage_mb"], "MB"),
        "jvm.peak_rss_mb": (extra["peak_rss_mb"], "MB"),
        "trace.overhead_ratio": (traced["ops_per_s"] / base["ops_per_s"], "ratio"),
        "failed_ratio": (extra["failed_ratio"], "ratio"),
    }
    for metric, t in [
        ("algorithms.pagerank_s", "pagerank"), ("algorithms.wcc_s", "wcc"),
        ("algorithms.label_propagation_s", "label_propagation"),
        ("algorithms.k_core_s", "k_core"), ("algorithms.lcc_s", "lcc"),
        ("algorithms.betweenness_s", "betweenness"), ("paths.cheapest_path_s", "cheapest_path"),
        ("dedup.edit_distance_pairs_s", "edit_distance_pairs"),
        ("dedup.dedup_clusters_s", "dedup_clusters"), ("corpus.bm25_s", "bm25"),
        ("corpus.pipeline_s", "pipeline"),
    ]:
        m[metric] = (med_type(t), "s")
    from workloads import GraphKernels

    for t in GraphKernels.op_types:
        m[f"spark.driver_gap_s.{t}"] = (med_type(t, gap), "s")
    return {k: {"value": float(v), "unit": u} for k, (v, u) in m.items()}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pgq_interactive", "graph_kernels"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", type=float, default=DEFAULT_SF,
                    help="standing input size under perfbench/data (0.01 or 0.001)")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "duckpgq_extension_spark", "__init__.py")):
        log(f"no duckpgq_extension_spark package under {ROOT}; run from a checkout root")
        return 2
    sys.path.insert(0, ROOT)

    import datagen

    if args.sf not in datagen.available_sizes():
        log(f"no standing data for --sf {args.sf:g}; have {datagen.available_sizes()}")
        return 2
    run_dir = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    out_dir = os.path.join(WORK, "out")
    os.makedirs(out_dir, exist_ok=True)
    h = Harness(args, run_dir)
    try:
        n_rows = datagen.write_dataset(h.data_dir, args.sf)
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
        setup = h.start(n_rows)
        log(f"set up in {setup['setup_s']:.1f} s")
        base = h.loop("loop")
        log(f"loop: {len(base['ops'])} ops in {base['wall']:.1f} s")
        probe = [h.run_op(op, phase="probe") for op in h.workload.probe_ops()]
        detail: dict = {"workload": args.workload, "seed": args.seed, "sf": args.sf,
                        "rows": n_rows, "cores": h.cores,
                        "setup_s": setup["setup_s"], "session_s": setup["session_s"]}
        if args.trace:
            import tracing as tr

            h.stats = tr.SparkStats(h.spark)
            h.watch = tr.AdjacencyCacheWatch(h.spark)
            h.rec = tr.Recorder()
            gc0 = tr.gc_seconds(h.spark)
            h.rec.install()
            try:
                traced = h.loop("traced")
            finally:
                h.rec.uninstall()
            extra = {"gc_s": tr.gc_seconds(h.spark) - gc0,
                     "storage_mb": tr.storage_used_mb(h.spark),
                     "empty_job_ms": tr.empty_job_ms(h.spark)}
            if args.workload == "graph_kernels":
                extra.update(verify_counts(h, traced))
            extra["peak_rss_mb"] = tr.jvm_peak_rss_mb(h.spark)
        t_stop = time.perf_counter()
        h.stop()
        t_check = time.perf_counter()
        attempted, failed = h.check()
        log(f"stopped in {t_check - t_stop:.1f} s, checked in {time.perf_counter() - t_check:.1f} s")
        if args.trace:
            extra["failed_ratio"] = failed / attempted
            metrics = per_layer(h, setup, base, traced, extra)
            h.rec.dump(os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.jsonl"))
            run_s = sum(r["spark"]["run_s"] for r in traced["ops"]) / h.cores
            wall = sum(r["lat"] for r in traced["ops"])
            detail["wall_shares"] = {"executor": run_s / wall, "driver_gap": 1 - run_s / wall}
        else:
            metrics, tail_detail = end_to_end(setup, base, probe)
            detail.update(tail_detail)
        detail["ops"] = h.records
        with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
            json.dump(detail, f, indent=1, default=str)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


def verify_counts(h: Harness, traced: dict) -> dict:
    """LSH candidates of the edit-distance op (through the public
    minhash_lsh_pairs, same banding, no score cut) and the share of them
    the Levenshtein check keeps."""
    from duckpgq_extension_spark.operators import dedup

    cands = dedup.minhash_lsh_pairs(h.spark.table("documents"), "doc_id", "text",
                                    n=2, num_perm=16, bands=8, threshold=0.0).count()
    kept = next(r["rows"] or [] for r in traced["ops"] if r["type"] == "edit_distance_pairs")
    return {"verify_candidates": cands, "verify_yield": len(kept) / max(1, cands)}


if __name__ == "__main__":
    sys.exit(main())
