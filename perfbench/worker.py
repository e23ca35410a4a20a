"""One benchmark run, in a process of its own: set-up, the measured closed
loop, output checks, metrics. ``run.py`` starts it with a private TMPDIR
and SPARK_LOCAL_DIRS and removes both afterwards.

A run measures ``ceil(--seconds / nominal_round_s)`` whole rounds, so all
runs of a workload take the same samples. End-to-end timings are
steal-free (see ``steal_free``). Untraced (``--trace 0``) it
reports the end-to-end metrics. Traced (``--trace 1``) it alternates
traced and untraced rounds: per-layer metrics come from the traced
rounds, and their wall time against the untraced rounds gives the
tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

SETUPS = 3  # session start + warm-up repeated; setup_s takes the median
TARGET_PART_BYTES = 2 * 1024 * 1024  # bench.py's partition sizing rule
RETAINED = "20000"  # status-store retention, far above one run's jobs


def session_conf(cores: int, in_bytes: int) -> tuple[int | None, dict]:
    """bench.py's rule: partitions = min(cores, input / 2 MiB) with AQE off
    while the input-sized cap is at most the core count, else the engine
    default (cores, AQE on)."""
    cap = max(1, in_bytes // TARGET_PART_BYTES)
    parts = int(cap) if cap <= cores else None
    conf = {"spark.ui.retainedJobs": RETAINED, "spark.ui.retainedStages": RETAINED}
    if parts:
        conf["spark.sql.adaptive.enabled"] = "false"
    return parts, conf


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least 10 samples beyond it; the
    median when fewer than 20 samples leave no higher one."""
    return max(50, math.floor(100 * (1 - 10 / n))) if n >= 20 else 50


def cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


def steal_free(e: dict) -> float:
    """An op's wall time less the hypervisor's share: wall * busy / (busy +
    steal), where busy and steal are the clock ticks all CPUs spent running
    and waiting for the host to run them during the op. On a shared host
    this keeps other guests' load out of the latency."""
    if not e["busy"]:
        return e["wall"]
    return e["wall"] * e["busy"] / (e["busy"] + e["steal"])


def retained_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections: what the
    session holds on to once the work is done."""
    jvm = spark.sparkContext._jvm
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.2)  # lets the context cleaner drop what the collection released
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / 2**20


def vm_hwm_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def layer_metrics(traced: list[dict], cores: int) -> dict:
    """Per-layer metrics from the traced rounds. Times: median over traced
    rounds of the round's total. Counts and bytes: the first traced round,
    so they repeat exactly across runs."""
    build = {"queries.build", "plans.optimize"}
    by_round: dict[int, list[dict]] = {}
    for o in traced:
        by_round.setdefault(o["round"], []).append(o)

    def span_sum(ops, names, key=None):
        return sum(
            (sp.self_s if key is None else sp.counts[key])
            for o in ops
            for sp in o["spans"]
            if sp.name in names
        )

    def exec_count(ops, key):
        return sum(sp.counts[key] for o in ops for sp in o["spans"] if sp.name not in build)

    def med(fn):
        return statistics.median(fn(ops) for ops in by_round.values())

    def exec_wall(ops):
        return sum(o["wall"] for o in ops) - span_sum(ops, build)

    def exec_run(ops):
        return exec_count(ops, "executor_run_s")

    first = by_round[min(by_round)]
    m = {
        "queries.build_s": med(lambda ops: span_sum(ops, {"queries.build"})),
        "queries.build_jobs": span_sum(first, {"queries.build"}, "jobs"),
        "plans.optimize_s": med(lambda ops: span_sum(ops, {"plans.optimize"})),
        "exec.wall_s": med(exec_wall),
        "exec.executor_run_s": med(exec_run),
        "exec.executor_cpu_s": med(lambda ops: exec_count(ops, "executor_cpu_s")),
        "exec.idle_s": med(lambda ops: exec_wall(ops) - exec_run(ops) / cores),
        "exec.blocks_left": first[-1]["blocks"],
        "op.self_s": med(lambda ops: span_sum(ops, {"op"})),
        "pipeline.export_s": med(lambda ops: span_sum(ops, {"pipeline.export"})),
        "pipeline.input_scans": span_sum(first, {"pipeline.export"}, "input_bytes")
        / sum(o["in_bytes"] for o in first),
        "sinks.geojson_s": med(lambda ops: span_sum(ops, {"sinks.geojson"})),
        "sinks.bytes_written": span_sum(first, {"pipeline.export", "sinks.geojson"}, "output_bytes"),
        "streaming.dedup_batch_s": med(lambda ops: span_sum(ops, {"streaming.dedup_batch"})),
        "streaming.batch_jobs": span_sum(first, {"streaming.dedup_batch"}, "jobs"),
        "streaming.store_read_bytes": span_sum(
            first,
            {"streaming.dedup_batch", "streaming.sketch_commit", "streaming.sketch_serve"},
            "input_bytes",
        ),
        "streaming.sketch_commit_s": med(lambda ops: span_sum(ops, {"streaming.sketch_commit"})),
        "streaming.sketch_serve_s": med(lambda ops: span_sum(ops, {"streaming.sketch_serve"})),
        "streaming.store_bytes": first[-1].get("store_bytes", 0),
    }
    for key in ("jobs", "stages", "tasks", "input_bytes", "shuffle_read_bytes",
                "shuffle_write_bytes", "output_bytes", "spill_bytes"):
        m[f"exec.{key}"] = exec_count(first, key)
    return m


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--cache", required=True)
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    traced = bool(args.trace)

    with open(os.path.join(HERE, "spec.json")) as f:
        spec = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)

    t0 = time.perf_counter()
    from parquet_exporter_spark.registry import REGISTRY, _ensure_loaded
    from parquet_exporter_spark.session import default_parallelism, get_spark
    import parquet_exporter_spark.pipeline  # noqa: F401
    import parquet_exporter_spark.sinks.geojson  # noqa: F401
    import parquet_exporter_spark.streaming.dedup_ingest  # noqa: F401
    import parquet_exporter_spark.streaming.hll_ingest  # noqa: F401

    _ensure_loaded()
    import_s = time.perf_counter() - t0

    import workloads
    from spans import Tracer

    phases = {}
    mark = time.perf_counter()

    def phase(name: str) -> None:
        nonlocal mark
        now = time.perf_counter()
        phases[name] = round(now - mark, 3)
        mark = now

    wl = workloads.make(args.workload, spec, args.seed, args.cache, args.work)
    wl.generate(REGISTRY)
    phase("inputs")
    cores = default_parallelism()
    in_bytes = wl.input_bytes()
    parts, conf = session_conf(cores, in_bytes)

    starts, warms, spark = [], [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", shuffle_partitions=parts, extra_conf=conf)
        starts.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.warmup(spark, REGISTRY)
        warms.append(time.perf_counter() - t)
    setup_s = import_s + statistics.median(s + w for s, w in zip(starts, warms))
    phase("setup")

    prepared = wl.prepare(spark, REGISTRY)  # pass/fail of the untimed ops it ran
    phase("prepare")
    tracer = Tracer(spark.sparkContext, traced)
    log: list[dict] = []
    # a fixed number of whole rounds per run, so that every run of a
    # workload has the same samples; a traced run needs an untraced round too
    n_rounds = max(2 if traced else 1, math.ceil(args.seconds / wl.cfg["nominal_round_s"]))
    for r, ops in zip(range(n_rounds), wl.rounds(spark, REGISTRY)):
        tracer.enabled = traced and r % 2 == 0
        for op in ops:
            if op.before:
                op.before()
            cpu0 = cpu_jiffies()
            t = time.perf_counter()
            try:
                res, err = op.run(tracer), None
            except Exception:
                res, err = None, traceback.format_exc()
            wall = time.perf_counter() - t
            busy, steal = (b - a for a, b in zip(cpu0, cpu_jiffies()))
            ok = False
            if err is None:
                try:
                    ok = bool(wl.check(res))
                except Exception:
                    err = traceback.format_exc()
            if err:
                print(f"op {op.op_id} failed:\n{err}", file=sys.stderr)
            entry = {"op": op, "round": r, "wall": wall, "ok": ok, "traced": tracer.enabled,
                     "rows": op.rows, "in_bytes": op.in_bytes, "busy": busy, "steal": steal}
            if tracer.enabled:
                entry["spans"] = tracer.close_op(op.op_id)
                entry["blocks"] = tracer.status.cached_blocks()
                if hasattr(wl, "store_bytes"):
                    entry["store_bytes"] = wl.store_bytes()
            log.append(entry)
    phase("measure")
    window = tracer.status.group_totals([tracer.group])
    fin = wl.finish(spark, [e["op"] for e in log])
    phase("finish")
    for e in log:
        if e["op"].op_id in fin.get("failed", ()):
            e["ok"] = False
    peak_rss_mb = vm_hwm_mb(spark)
    heap_mb = retained_heap_mb(spark)
    spark.stop()
    phase("stop")

    plain = [e for e in log if not e["traced"]]
    walls = [e["wall"] for e in plain]
    lats = [steal_free(e) for e in plain]
    rounds: dict[int, float] = {}
    round_lat: dict[int, float] = {}
    round_rows: dict[int, int] = {}
    for e, lat in zip(plain, lats):
        r = e["round"]
        rounds[r] = rounds.get(r, 0.0) + e["wall"]
        round_lat[r] = round_lat.get(r, 0.0) + lat
        round_rows[r] = round_rows.get(r, 0) + e["rows"]
    failed = sum(not e["ok"] for e in log) + prepared.count(False)
    attempted = len(log) + len(prepared)
    tail_p = tail_percentile(len(walls))

    if traced:
        traced_ops = [e for e in log if e["traced"]]
        troundw: dict[int, float] = {}
        for e in traced_ops:
            troundw[e["round"]] = troundw.get(e["round"], 0.0) + e["wall"]
        metrics = layer_metrics(traced_ops, cores)
        metrics.update({
            "registry.import_s": import_s,
            "session.start_s": statistics.median(starts),
            "session.warmup_s": statistics.median(warms),
            "functions.dedup_recall": fin.get("recall", 0.0),
            "trace.overhead_ratio": statistics.median(troundw.values())
            / statistics.median(rounds.values()),
        })
        os.makedirs(os.path.join(args.cache, "traces"), exist_ok=True)
        tracer.dump(os.path.join(args.cache, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
        wanted = declared["per_layer"]
    else:
        metrics = {
            "latency_p50_s": statistics.median(lats),
            "latency_tail_s": percentile(lats, tail_p),
            "round_s": statistics.median(round_lat.values()),
            "rows_per_s": statistics.median(round_rows[r] / t for r, t in round_lat.items()),
            "output_bytes_per_input_byte": (window["output_bytes"] + window["shuffle_write_bytes"])
            / sum(e["in_bytes"] for e in plain),
            "heap_retained_mb": heap_mb,
            "setup_s": setup_s,
        }
        wanted = declared["end_to_end"]

    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted}
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cpus": cores, "shuffle_partitions": parts or cores, "aqe": not parts,
        "input_bytes": in_bytes, "ops": len(log), "rounds": log[-1]["round"] + 1 if log else 0,
        "phases_s": phases,
        "setup_samples_s": [[round(a, 3), round(b, 3)] for a, b in zip(starts, warms)],
        "failed_ratio": failed / max(1, attempted),
        "latency_tail_percentile": tail_p, "latency_samples": len(walls),
        "op_walls_s": [round(w, 3) for w in walls],
        "op_busy_ticks": [e["busy"] for e in plain],
        "op_steal_ticks": [e["steal"] for e in plain],
        "latency_p50_wall_s": statistics.median(walls), "peak_rss_mb": round(peak_rss_mb, 1),
        "metrics": out,
    }
    print(json.dumps(report))
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
