"""CDC ingest benchmark: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the repository root. Generated logs are cached under
`.perfbench/inputs/`; tables, checkpoints and Spark's scratch space live
under `.perfbench/run-<pid>/` and are removed at exit; traced runs write
their spans to `.perfbench/traces/`.

Prints one JSON line of details, then, as the last line, the result:
{"correct", "attempted", "failed", "metrics"} with every end-to-end metric
(`--trace 0`) or every per-layer metric (`--trace 1`), each as
{"value", "unit"}. Exits 1 when an output check fails and 2 when the engine
cannot be imported or a run dies; no result line is printed then.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOAD_NAMES = ("bulk_replay", "serve_under_ingest")
READ_TYPES = ("point", "range", "scan", "changes", "sql")

END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "events/s",
    "commit_latency_p50_s": "s",
    "read_p50_s": "s",
    "write_amplification": "ratio",
    "storage_bytes_per_live_byte": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "streaming.triggers": "count",
    "streaming.trigger_overhead_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "merge.epoch_self_s": "s",
    "merge.epochs": "count",
    "merge.batch_rows": "rows",
    "merge.applied_rows": "rows",
    "merge.rows_rewritten": "rows",
    "merge.touched_buckets": "count",
    "merge.bucket_skew_max": "ratio",
    "merge.key_skew_max": "ratio",
    "merge.cow_epochs": "count",
    "merge.mor_epochs": "count",
    "merge.salted_epochs": "count",
    "merge.evolved_columns": "count",
    "merge.compact_s": "s",
    "merge.compact_buckets": "count",
    "merge.compact_rows_rewritten": "rows",
    "lakette.commit_s": "s",
    "lakette.commits": "count",
    "lakette.commit_conflicts": "count",
    "lakette.snapshot_plan_s": "s",
    "lakette.files_planned": "count",
    "lakette.delta_files_live": "count",
    "lakette.data_bytes": "bytes",
    "lakette.metadata_bytes": "bytes",
    "changes.diff_s": "s",
    "changes.rows": "rows",
    "sqlfront.compile_s": "s",
    "sqlfront.execute_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "streaming.trigger_fixed_s": "s",
    "streaming.trigger_fixed_share": "ratio",
    "spark.local1_events_per_s": "events/s",
    "spark.local1_scaling_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
    "trace.spans": "count",
}


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(scratch: str, n_cores: int):
    from forklift_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=n_cores,
        driver_memory="4g",
        extra_conf={
            "spark.local.dir": scratch,
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={scratch} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


# ---------------------------------------------------------------- processes


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def child_pids(pid: int) -> list[int]:
    """Every process below `pid`, children first."""
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process this one
    started (the JVM, Spark's Python workers) has exited."""
    from pyspark import SparkContext

    procs = child_pids(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 30
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.05)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot: on a VM, steal is
    time the hypervisor gave the vCPUs to other guests."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


# ---------------------------------------------------------------- metrics


def read_latencies(reads: list[dict], kind: str | None = None) -> list[float]:
    return [r["latency"] for r in reads if kind is None or r["type"] == kind]


def end_to_end(res, setup_s: float) -> dict[str, float]:
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": res.events / res.ingest_wall,
        "commit_latency_p50_s": statistics.median(res.epoch_latency),
        "read_p50_s": statistics.median(read_latencies(res.reads)),
        "write_amplification": (res.rows_rewritten + res.compact_rows) / res.applied_rows,
        "storage_bytes_per_live_byte": res.storage[0] / res.live_bytes,
    }


def details(res, failures: list[str]) -> dict:
    from perfbench.stats import summarize

    reads = {k: summarize(read_latencies(res.reads, k)) for k in READ_TYPES}
    attempted = len(res.epoch_latency) + len(res.reads)
    return {
        "epochs": len(res.epoch_latency),
        "events": res.events,
        "ingest_wall_s": res.ingest_wall,
        "commit_latency": summarize(res.epoch_latency),
        "reads": summarize(read_latencies(res.reads)),
        "reads_by_type": reads,
        "compactions": res.compactions,
        "samples": {
            "commit_latency": res.epoch_latency,
            "reads": [(r["type"], r["latency"]) for r in res.reads],
            "drains": res.drains,
        },
        "error_rate": len(failures) / attempted if attempted else None,
        "failures": failures[:20],
    }


def fit_intercept(points: list[tuple[float, float]]) -> float:
    """Least-squares intercept of y over x."""
    xs, ys = [x for x, _ in points], [y for _, y in points]
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    slope = sum((x - mx) * (y - my) for x, y in points) / sum((x - mx) ** 2 for x in xs)
    return my - slope * mx


def per_layer(tracer, res, session_s: float, spark_delta: dict) -> dict[str, float]:
    """Per-layer totals over the traced part of the run (set-up, measured
    loop and output checks)."""
    from perfbench.trace import union_length
    from perfbench.workloads import dir_bytes

    spans = tracer.spans
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    kids: dict[int, list] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def total(name: str) -> float:
        return sum(s.duration for s in by.get(name, []))

    def lakette_cover(s) -> float:
        todo, iv = list(kids.get(s.id, [])), []
        while todo:
            c = todo.pop()
            if c.name.startswith("lakette."):
                iv.append((max(c.start, s.start), min(c.end, s.end)))
            else:
                todo.extend(kids.get(c.id, []))
        return union_length([(lo, hi) for lo, hi in iv if hi > lo])

    trig = by.get("streaming.trigger", [])

    def dms(key: str) -> float:
        return sum(t.attrs["duration_ms"].get(key, 0) for t in trig) / 1000

    merges = [s for s in by.get("merge.merge_into", []) if "batch_rows" in s.attrs]
    applied = [s.attrs for s in merges if not s.attrs["skipped"]]
    names = {s.id: s.name for s in spans}
    # engine-internal snapshot calls nest; count each outermost one once
    snaps = [s for s in by.get("lakette.snapshot", []) if names.get(s.parent) != "lakette.snapshot"]
    st = res.table.stats()
    data = dir_bytes(res.table.root, "data")
    return {
        "session.start_s": session_s,
        "streaming.triggers": len(trig),
        "streaming.trigger_overhead_s": dms("triggerExecution") - dms("addBatch"),
        "streaming.latest_offset_s": dms("latestOffset"),
        "streaming.wal_commit_s": dms("walCommit"),
        "streaming.commit_offsets_s": dms("commitOffsets"),
        "merge.epoch_self_s": sum(s.duration - lakette_cover(s) for s in merges),
        "merge.epochs": len(applied),
        "merge.batch_rows": sum(a["batch_rows"] for a in applied),
        "merge.applied_rows": sum(a["applied_rows"] for a in applied),
        "merge.rows_rewritten": sum(a["rows_rewritten"] for a in applied),
        "merge.touched_buckets": sum(a["touched_buckets"] for a in applied),
        "merge.bucket_skew_max": max((a["bucket_skew"] for a in applied), default=0.0),
        "merge.key_skew_max": max((a["key_skew"] for a in applied), default=0.0),
        "merge.cow_epochs": sum(a["mode_used"] == "cow" for a in applied),
        "merge.mor_epochs": sum(a["mode_used"] == "mor" for a in applied),
        "merge.salted_epochs": sum(bool(a["salt_buckets"]) for a in applied),
        "merge.evolved_columns": sum(a["evolved"] for a in applied),
        "merge.compact_s": total("merge.compact"),
        "merge.compact_buckets": sum(s.attrs.get("buckets", 0) for s in by.get("merge.compact", [])),
        "merge.compact_rows_rewritten": sum(s.attrs.get("rows", 0) for s in by.get("op.compact", [])),
        "lakette.commit_s": total("lakette.commit_version"),
        "lakette.commits": len(by.get("lakette.commit_version", [])),
        "lakette.commit_conflicts": sum(
            s.attrs.get("error") == "CommitConflictError" for s in by.get("lakette.commit_version", [])
        ),
        "lakette.snapshot_plan_s": sum(s.duration for s in snaps),
        "lakette.files_planned": sum(s.attrs.get("files", 0) for s in by.get("lakette.plan_files", [])),
        "lakette.delta_files_live": st["delta_files"],
        "lakette.data_bytes": data,
        "lakette.metadata_bytes": dir_bytes(res.table.root) - data,
        "changes.diff_s": total("changes.snapshot_diff"),
        "changes.rows": sum(s.attrs.get("rows", 0) for s in by.get("read.changes", [])),
        "sqlfront.compile_s": total("sqlfront.compile"),
        "sqlfront.execute_s": total("sqlfront.execute"),
        "spark.shuffle_write_bytes": spark_delta["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": spark_delta["shuffle_read_bytes"],
        "spark.input_bytes": spark_delta["input_bytes"],
        "spark.task_s": spark_delta["task_ms"] / 1000,
        "spark.gc_s": spark_delta["gc_ms"] / 1000,
        "spark.tasks": spark_delta["tasks"],
        "spark.failed_tasks": spark_delta["failed_tasks"],
        "trace.spans": len(spans),
    }


# ---------------------------------------------------------------- run


def run(args, work: str, run_dir: str) -> tuple[dict, dict]:
    from perfbench import workloads as W
    from perfbench.trace import NullTracer, ProgressListener, Tracer, epochs_over_wall

    logs, gen_s = W.prepare_inputs(
        args.workload, args.seed, os.path.join(work, "inputs"), traced=bool(args.trace)
    )
    scratch = os.path.join(run_dir, "tmp")
    n_cores = cores()
    t0 = time.perf_counter()
    spark = start_spark(scratch, n_cores)
    session_s = time.perf_counter() - t0
    try:
        listener = ProgressListener()
        spark.streams.addListener(listener)
        tracer = Tracer(spark).install() if args.trace else NullTracer()
        counters0 = tracer.counters() if args.trace else None
        b = W.Bench(spark, tracer, listener, logs, run_dir, args.seed, args.seconds, args.workload)
        wl = W.WORKLOADS[args.workload]

        table_s, states = [], []
        for _ in range(W.SETUP_REPEATS):
            t0 = time.perf_counter()
            states.append(wl.setup(b))
            table_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        wl.warm_up(b, states[0])
        warm_s = time.perf_counter() - t0
        state = states[-1]
        setup_s = session_s + warm_s + statistics.median(table_s)

        tracer.phase = "measure"
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        res = wl.loop(b, state)
        t1 = time.perf_counter()
        ticks1 = cpu_ticks()
        if wl.readback:
            W.readback(b, res)
        t2 = time.perf_counter()
        tracer.phase = "check"
        failures = W.check(b, res)
        t3 = time.perf_counter()
        metrics = end_to_end(res, setup_s)
        info = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "cores": n_cores, "gen_s": gen_s, "session_s": session_s,
            "warm_s": warm_s, "table_setup_s": table_s,
            "loop_s": t1 - t0, "readback_s": t2 - t1, "check_s": t3 - t2,
            "loop_cpu_steal": (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1]),
            **details(res, failures), "end_to_end": metrics,
        }
        attempted = len(res.epoch_latency) + len(res.reads)
        if not args.trace:
            return info, {"correct": not failures, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}

        counters1 = tracer.counters()
        tracer.uninstall()
        lost = tracer.attach_orphans()
        if lost:
            failures.append(f"{lost} callback-thread spans overlap no streaming trigger")
        layers = per_layer(
            tracer, res, session_s, {k: counters1[k] - counters0[k] for k in counters0}
        )
        checked, over = epochs_over_wall(tracer.spans, ("streaming.trigger", "op.serve_epoch"))
        if over:
            failures.append(f"{len(over)}/{checked} epochs: span self times exceed epoch wall")

        # tracing overhead: the same loop again on a fresh set-up, untraced
        b.tracer = NullTracer()
        res2 = wl.loop(b, wl.setup(b))
        failures += W.check(b, res2)
        untraced = res2.events / res2.ingest_wall
        layers["trace.overhead_ratio"] = metrics["ingest_events_per_s"] / untraced

        # single-thread baseline: the first chunk of bulk_replay's log (one
        # trigger) at local[N], after a warm-up drain, then at local[1]
        bulk, log = W.WORKLOADS["bulk_replay"], logs["bulk_replay"]
        chunk = len(log.chunks[0])
        bulk.run_once(b, log, W.LoopResult(), name="scale-warm", prefix=W.WARM_SEGMENTS)
        probe = W.LoopResult()
        rate_n = bulk.run_once(b, log, probe, name="scale-n", prefix=chunk)
        # a trigger's fixed cost: the intercept of trigger time over rows,
        # from that trigger and a drain of one segment
        one = W.LoopResult()
        bulk.run_once(b, log, one, name="one-segment", prefix=1)
        fixed_s = fit_intercept(probe.triggers + one.triggers)
        layers["streaming.trigger_fixed_s"] = fixed_s
        # of a one-chunk drain; a full drain has one trigger per chunk too
        layers["streaming.trigger_fixed_share"] = fixed_s * len(probe.triggers) / probe.drains[0][1]
        spark.streams.removeListener(listener)
        spark.stop()
        spark = b.spark = start_spark(scratch, 1)
        spark.streams.addListener(listener)
        probe1 = W.LoopResult()
        rate_1 = bulk.run_once(b, log, probe1, name="scale-1", prefix=chunk)
        failures += W.check(b, probe) + W.check(b, probe1)
        layers["spark.local1_events_per_s"] = rate_1
        layers["spark.local1_scaling_ratio"] = rate_n / rate_1

        info.update(
            per_layer=layers, untraced_events_per_s=untraced,
            local_n_events_per_s=rate_n, epochs_checked=checked,
            epochs_over_wall=len(over), failures=failures[:20],
        )
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        path = os.path.join(work, "traces", f"{args.workload}-s{args.seed}-{tracer.run_id}.json")
        tracer.dump(path, {"info": info})
        info["trace_file"] = os.path.relpath(path, ROOT)
        return info, {"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": layers}
    finally:
        stop_spark(spark)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch space
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{os.getpid()}")
    scratch = os.path.join(run_dir, "tmp")
    os.makedirs(scratch, exist_ok=True)
    # every temporary file, the JVM's and the Python workers' too, stays
    # inside the checkout
    os.environ["TMPDIR"] = scratch
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    # the JVM that spark-submit runs to build its command line writes no
    # perf data file either (see start_spark)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, ROOT)
    try:
        try:
            import forklift_spark.session  # noqa: F401
        except ImportError as exc:
            print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
            return 2
        try:
            info, result = run(args, work, run_dir)
        except Exception:
            traceback.print_exc()
            return 2
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    units = PER_LAYER if args.trace else END_TO_END
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    print(json.dumps(info, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
