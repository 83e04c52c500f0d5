"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest|retrieve|dataprep \\
        --seed N --seconds S --trace 0|1

Starts a local[nproc] session through the engine's own session factory,
sets the workload up several times (the median is ``setup_s``), runs one
untimed warm-up op, then runs ops in a closed loop with one client until
``--seconds`` seconds have passed and the workload's ``min_ops`` ops are
done. Every op's output is checked by an oracle that does not call the
engine. With ``--trace 0`` the last stdout line holds the
end-to-end metrics; with ``--trace 1`` ops alternate between traced and
untraced and the last line holds the per-layer metrics. A full record (host
fingerprint, every op, every span) is written to ``.bench_results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "op_s_tail": "s",
    "items_per_s": "1/s",
    "ok_ratio": "ratio",
    "recall_at_10": "ratio",
    "neardup_recall": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}

# layer span name -> metric; the span's build and action time are summed
LAYER_SPANS = (
    "chunking.split", "embed.docs", "io.write", "hnsw.build", "hnsw.write",
    "embed.queries", "retrieve.plan", "ann.ivf_search", "hnsw.search",
    "topk.component", "rerank.rerank", "textstats.quality", "dedup.exact",
    "dedup.minhash", "dedup.clusters",
)
PER_LAYER = {
    **{f"{name}_s": "s" for name in LAYER_SPANS},
    "chunking.chunks_per_doc": "ratio",
    "io.files_written": "count",
    "io.bytes_written": "B",
    "retrieve.rows_scanned_per_result": "ratio",
    "dedup.exact_removed": "count",
    "dedup.lsh_candidates": "count",
    "dedup.lsh_verified_ratio": "ratio",
    "driver.build_s": "s",
    "driver.action_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.core_busy_ratio": "ratio",
    "spark.input_rows": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.persisted_rdds_after_op": "count",
    "spark.cached_plans_after_op": "count",
    "trace.overhead_ratio": "ratio",
}


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["ingest", "retrieve", "dataprep"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def start_session(work: str, ncpu: int):
    """A SparkSession from the engine's factory whose scratch space (shuffle
    files, temp files, warehouse) stays inside ``work``."""
    from chatbot_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    return get_spark(
        "perfbench",
        master=f"local[{ncpu}]",
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job/stage of a run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def stop_session(spark) -> None:
    """Stop the context, then end the JVM (it exits when its stdin closes)
    and wait for it; its Python workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def reset_spark_state(spark) -> tuple[int, int]:
    """Leak accounting, then cleanup so ops stay independent: returns the
    (persisted RDDs, cached plans) an op left behind before clearing them."""
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    persisted = jsc.getPersistentRDDs().size()
    cached = cache.numCachedEntries()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(False)
    return persisted, cached


def op_layer_metrics(spans, op_seconds: float, ncpu: int) -> dict:
    """Per-layer values of one traced op from its spans; a span's time is
    its own, without the spans nested in it."""
    out = {f"{name}_s": 0.0 for name in LAYER_SPANS}
    out["driver.build_s"] = out["driver.action_s"] = 0.0
    nested: dict[int, float] = {}
    for sp in spans:
        if sp.parent is not None:
            nested[sp.parent] = nested.get(sp.parent, 0.0) + (sp.end - sp.start)
    totals: dict[str, float] = {}
    for sp in spans:
        dur = sp.end - sp.start - nested.get(sp.id, 0.0)
        if sp.kind in ("build", "action"):
            out[f"driver.{sp.kind}_s"] += dur
            if f"{sp.name}_s" in out:
                out[f"{sp.name}_s"] += dur
        for k, v in sp.spark.items():
            totals[k] = totals.get(k, 0.0) + v
    out.update(totals)
    out["spark.core_busy_ratio"] = totals.get("spark.executor_run_s", 0.0) / (op_seconds * ncpu)
    return out


def run(args: argparse.Namespace) -> dict | None:
    from perfbench import stats
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    ncpu = stats.cpus()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.perf_counter()
    spark = start_session(work, ncpu)
    session_s = time.perf_counter() - t0
    fp = stats.fingerprint(ROOT, args.seed, spark.version)
    try:
        tr = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, tr)
        setup_times = []
        warm_reasons = []
        for rep in range(wl.setup_reps):
            t = time.perf_counter()
            warm_reasons += wl.setup(rep)
            setup_times.append(time.perf_counter() - t)
            reset_spark_state(spark)

        # one untimed full-size op: the first ops of a session run code that
        # the JIT has not compiled yet
        t = time.perf_counter()
        warm = wl.make_input(0, warmup=True)
        try:
            warm_reasons += wl.check(warm, wl.run(warm)).reasons
        except Exception:
            warm_reasons.append("warm-up raised: " + traceback.format_exc(limit=3)[-400:])
            traceback.print_exc(file=sys.stderr)
        reset_spark_state(spark)
        wl.cleanup(warm)
        warmup_s = time.perf_counter() - t
        for r in warm_reasons:
            print(f"set-up or warm-up rejected: {r}", file=sys.stderr)

        ops = []
        deadline = time.perf_counter() + args.seconds
        i = 0
        while True:
            # a traced run needs a timed op of each kind, an untraced run
            # min_ops timed ops; give up after a few
            timed = [o["traced"] for o in ops if o["seconds"] is not None]
            enough = set(timed) == {True, False} if args.trace else len(timed) >= wl.min_ops
            if time.perf_counter() >= deadline and (enough or i >= 6):
                break
            traced = bool(args.trace) and i % 2 == 0
            tr.enabled = traced
            inp = wl.make_input(i)
            rec = {"index": i, "traced": traced, "items": wl.n_items(inp),
                   "seconds": None, "ok": False, "reasons": [], "quality": {}}
            out = None
            try:
                with tr.op(i):
                    t = time.perf_counter()
                    out = wl.run(inp)
                    rec["seconds"] = time.perf_counter() - t
            except Exception:
                rec["reasons"].append("op raised: " + traceback.format_exc(limit=3)[-400:])
                traceback.print_exc(file=sys.stderr)
            tr.release()
            tr.enabled = False
            rec["persisted_rdds"], rec["cached_plans"] = reset_spark_state(spark)
            if rec["seconds"] is not None:
                try:
                    chk = wl.check(inp, out)
                    rec["ok"], rec["reasons"], rec["quality"] = chk.ok, chk.reasons, chk.quality
                    if traced:
                        rec["layer"] = wl.layer_metrics(inp, out)
                except Exception:
                    rec["reasons"].append("oracle raised: " + traceback.format_exc(limit=3)[-400:])
                    traceback.print_exc(file=sys.stderr)
            for r in rec["reasons"]:
                print(f"op {i} rejected: {r}", file=sys.stderr)
            wl.cleanup(inp)
            ops.append(rec)
            i += 1

        tr.enabled = bool(args.trace)
        tr.collect_spark_metrics()
        rss = stats.vm_hwm_mb() + stats.vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
        spans = [s.to_json() for s in tr.spans]
        for rec in ops:
            if rec["traced"] and rec["seconds"] is not None:
                rec["layer"] = {**op_layer_metrics(tr.op_spans(rec["index"]), rec["seconds"], ncpu),
                                **rec.get("layer", {})}
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    fp["loadavg_end"] = os.getloadavg()[0]
    if not any(o["seconds"] is not None and not o["traced"] for o in ops):
        print("no untraced op completed; nothing to report", file=sys.stderr)
        return None
    e2e = end_to_end(wl, ops, setup_times, rss)
    layer = per_layer(ops) if args.trace else {}
    attempted = len(ops)
    failed = sum(1 for o in ops if not o["ok"])
    return {
        "fingerprint": fp,
        "workload": args.workload,
        "trace": args.trace,
        "seconds": args.seconds,
        "correct": failed == 0 and not warm_reasons,
        "attempted": attempted,
        "failed": failed,
        "session_s": session_s,
        "setup_times": setup_times,
        "warmup_s": warmup_s,
        "warmup_reasons": warm_reasons,
        "end_to_end": e2e,
        "per_layer": layer,
        "ops": ops,
        "spans": spans,
    }


def end_to_end(wl, ops: list[dict], setup_times: list[float], rss: float) -> dict:
    from perfbench import stats

    timed = [o for o in ops if o["seconds"] is not None and not o["traced"]]
    times = [o["seconds"] for o in timed]
    tail, pct = stats.tail(times)
    q = {}
    for o in ops:
        for k, v in o["quality"].items():
            q[k] = q.get(k, 0) + v
    stored = (q["stored_bytes"] / q["input_bytes"]) if q.get("input_bytes") else wl.stored_ratio
    return {
        "setup_s": stats.median(setup_times),
        "op_s_p50": stats.median(times),
        "op_s_tail": tail,
        "op_s_tail_percentile": pct,
        "op_count": len(times),
        "items_per_s": sum(o["items"] for o in timed) / sum(times),
        "ok_ratio": 1.0 - stats.fail_ratio(len(ops), sum(1 for o in ops if not o["ok"])),
        # a workload without the guard reports 1.0: it has nothing to miss
        "recall_at_10": q["recall_sum"] / q["recall_queries"] if q.get("recall_queries") else 1.0,
        "neardup_recall": q["near_found"] / q["near_planted"] if q.get("near_planted") else 1.0,
        "stored_bytes_per_input_byte": stored,
        "peak_rss_mb": rss,
    }


def per_layer(ops: list[dict]) -> dict:
    """Median over traced ops of each per-layer value, plus the leak counts
    of untraced ops and the tracing overhead."""
    from perfbench import stats

    traced = [o for o in ops if o["traced"] and "layer" in o]
    plain = [o for o in ops if not o["traced"] and o["seconds"] is not None]
    out = {}
    for name in PER_LAYER:
        vals = [o["layer"][name] for o in traced if name in o["layer"]]
        out[name] = stats.median(vals) if vals else 0.0
    rows_scanned = [o["layer"]["spark.input_rows"] / o["layer"]["retrieve.result_rows"]
                    for o in traced if o["layer"].get("retrieve.result_rows")]
    out["retrieve.rows_scanned_per_result"] = stats.median(rows_scanned) if rows_scanned else 0.0
    for key, name in (("persisted_rdds", "spark.persisted_rdds_after_op"),
                      ("cached_plans", "spark.cached_plans_after_op")):
        out[name] = stats.median([o[key] for o in plain or ops])
    if traced and plain:
        out["trace.overhead_ratio"] = (stats.median([o["seconds"] for o in traced])
                                       / stats.median([o["seconds"] for o in plain]))
    return out


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "chatbot_spark")):
        print(f"engine package chatbot_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    res = run(args)
    if res is None:
        return 3
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(
        results, f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1, default=str)
    metrics = res["per_layer"] if args.trace else res["end_to_end"]
    units = PER_LAYER if args.trace else END_TO_END
    print("fingerprint " + json.dumps(res["fingerprint"]))
    print(f"result file {os.path.relpath(path, ROOT)}")
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
