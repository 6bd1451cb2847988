"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 9 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``
(same seed, same inputs), starts a ``local[N]`` session through
``engine.get_spark``, runs one cold operation, one warm-up operation and
then warm operations for ``--seconds``, checks the outputs, and prints one
JSON object as the last line of standard output::

    {"correct": true, "attempted": 9, "failed": 0, "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
spans are recorded around every call into the program and the metrics are
the per-layer ones. Every run is its own process, so a cold operation is
the first use of a fresh JVM. Everything the run writes stays under
``.perfbench_work/`` in the repository root; inputs and engine state are
removed at exit, the report (and spans, when traced) are kept.

The exit code is 0 only when every operation succeeded and every check
passed.
"""

from __future__ import annotations

import argparse
import filecmp
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import telemetry  # noqa: E402
from spans import Tracer, self_times  # noqa: E402

SETUP_REPEATS = 3
# the first warm operation still compiles code and runs slower than the next
# ones (15-30% for a batch pass), so it is run (and checked) before the
# timed window opens
WARMUP_OPS = 1
MIN_WARM_OPS = 1
# engine.get_spark defaults to an 8g driver heap, which the collector grows
# by a different amount on every run: peak RSS spread by about 40% between
# runs of one workload, and still by about 15% with a 1g heap. A 1g heap
# committed at start (-Xms) repeats within about 2%.
DRIVER_HEAP = "1g"

# (name, unit); every run reports each of these, whatever the workload
END_TO_END = [
    ("setup_s", "s"),
    ("cold_op_s", "s"),
    ("op_s", "s"),
    ("peak_rss_mb", "MB"),
]


def _per_query(names):
    return [(f"queries.{n}.{f}", "s") for n in names for f in ("build_s", "exec_s", "cold_build_s")]


def per_layer_spec() -> list[tuple[str, str]]:
    from workloads import Batch

    counts = [
        f"queries.{p}_{c}"
        for p in ("build", "exec", "cold_build")
        for c in ("jobs", "stages", "tasks")
    ]
    return (
        [("engine.get_spark_s", "s"), ("harness.self_s", "s"), ("trace.op_s", "s")]
        + [(f"queries.{f}", "s") for f in ("build_s", "plan_s", "exec_s", "cold_build_s", "cold_plan_s", "cold_exec_s")]
        + [(n, "count") for n in counts]
        + [("queries.exchanges", "count"), ("queries.shuffle_write_bytes", "bytes")]
        + [("queries.spill_bytes", "bytes"), ("checkpoint.memo_reuse_ratio", "ratio")]
        + _per_query(Batch.queries)
        + [
            ("streaming.incremental.batch_s", "s"),
            ("streaming.incremental.process_s", "s"),
            ("streaming.incremental.emit_s", "s"),
            ("streaming.incremental.updates_per_s", "updates/s"),
            ("streaming.incremental.jobs_per_batch", "count"),
            ("streaming.incremental.stages_per_batch", "count"),
            ("streaming.incremental.tasks_per_batch", "count"),
            ("streaming.incremental.state_bytes", "bytes"),
            ("streaming.incremental.state_files", "count"),
            ("streaming.incremental.emit_per_update", "ratio"),
            ("streaming.upsert_join.batch_s", "s"),
            ("streaming.upsert_join.updates_per_s", "updates/s"),
            ("streaming.upsert_join.add_batch_ms", "ms"),
            ("streaming.upsert_join.query_planning_ms", "ms"),
            ("streaming.upsert_join.wal_commit_ms", "ms"),
            ("streaming.upsert_join.state_rows_total", "count"),
            ("streaming.upsert_join.state_memory_bytes", "bytes"),
            ("streaming.upsert_join.state_update_ms", "ms"),
            ("streaming.upsert_join.state_commit_ms", "ms"),
            ("streaming.upsert_join.emit_per_update", "ratio"),
            ("streaming.upsert_join.sink_s", "s"),
        ]
    )


def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _configure_jvm(work: str) -> None:
    """Keep every temporary and spill directory of this process, the JVM and
    Spark's workers inside the run's own directory, and give the driver a
    ``DRIVER_HEAP`` heap, committed at start."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_HEAP
    # spark-submit adds SPARK_SUBMIT_OPTS to the driver JVM only, not to
    # its small launcher JVM
    submit_opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{submit_opts} -Xms{DRIVER_HEAP}".strip()
    tempfile.tempdir = None


def _stop_jvm(spark) -> None:
    """Stop the session and wait for the JVM (and with it Spark's Python
    workers) to exit: the gateway JVM ends when its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(args) -> tuple[dict, dict]:
    from workloads import WORKLOADS

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _configure_jvm(work)
    cpus = telemetry.parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"), os.cpu_count() or 1)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": telemetry.host_info(cpus),
        "telemetry_start": telemetry.snapshot(),
    }

    t0 = time.perf_counter()
    sys.path.insert(0, ROOT)
    from kafka_denormalization_spark.engine import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_s = time.perf_counter() - t0
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    tracer = Tracer(bool(args.trace), spark.sparkContext)
    ctx = SimpleNamespace(
        spark=spark, tracer=tracer, work_dir=work, seed=args.seed, repo_root=ROOT
    )
    wl = WORKLOADS[args.workload](ctx)
    try:
        gen_s = []
        for j in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.generate(os.path.join(work, f"gen{j}"))
            gen_s.append(time.perf_counter() - t)
        for j in range(1, SETUP_REPEATS):
            if not _same_tree(os.path.join(work, "gen0"), os.path.join(work, f"gen{j}")):
                wl.problems.append(f"generator output {j} differs from output 0 for one seed")
            shutil.rmtree(os.path.join(work, f"gen{j}"))
        os.rename(os.path.join(work, "gen0"), wl.data_dir)
        t = time.perf_counter()
        wl.preload()
        preload_s = time.perf_counter() - t
        setup_s = get_spark_s + statistics.median(gen_s) + preload_s
        report["setup"] = {
            "get_spark_s": get_spark_s,
            "generate_s": gen_s,
            "preload_s": preload_s,
        }

        cold = wl.run_op(0)
        idx = 1
        for _ in range(WARMUP_OPS):
            wl.run_op(idx)
            idx += 1
        warm = []
        tried = 0
        t_start = time.perf_counter()
        while wl.has_op(idx) and (
            time.perf_counter() - t_start < args.seconds or tried < MIN_WARM_OPS
        ):
            rec = wl.run_op(idx)
            idx += 1
            tried += 1
            if rec is not None:
                warm.append(rec)
        report["window_s"] = time.perf_counter() - t_start
        peak = telemetry.peak_rss_mb(jvm_pid)
        try:
            wl.check()
        except Exception:  # noqa: BLE001 - a crashed check is a failed check
            wl.failed += 1
            wl.problems.append("check raised: " + traceback.format_exc(limit=3))
        layer = wl.layer_metrics(cold, warm) if cold and warm else {}
    finally:
        wl.stop()
        _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed = min(wl.failed, wl.attempted)
    ok = cold is not None and len(warm) > 0 and not wl.problems
    op_s = [r["op_s"] for r in warm]
    e2e = {
        "setup_s": setup_s,
        "cold_op_s": cold["op_s"] if cold else 0.0,
        "op_s": statistics.median(op_s) if op_s else 0.0,
        "peak_rss_mb": peak,
    }
    layer["engine.get_spark_s"] = get_spark_s
    layer["trace.op_s"] = e2e["op_s"]
    if tracer.enabled:
        st = self_times(tracer.spans)
        warm_ids = {f"op{r['idx']}" for r in warm}
        roots = [s for s in tracer.spans if s.name == "op" and s.op in warm_ids]
        layer["harness.self_s"] = statistics.median([st[s.span_id] for s in roots]) if roots else 0.0
        report["self_time_s"] = tracer.self_time_by_name()
        tracer.write(os.path.join(work_root, f"spans-{args.workload}-{args.seed}.jsonl"))
    report.update(
        telemetry_end=telemetry.snapshot(),
        attempted=wl.attempted,
        failed=failed,
        failed_ops_share=failed / wl.attempted if wl.attempted else 1.0,
        warm_ops=len(warm),
        ops=wl.ops,
        problems=wl.problems,
        end_to_end=e2e,
        per_layer=layer,
    )
    with open(os.path.join(work_root, f"report-{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)

    if args.trace:
        metrics = {n: {"value": layer.get(n, 0), "unit": u} for n, u in per_layer_spec()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    result = {"correct": ok, "attempted": wl.attempted, "failed": failed, "metrics": metrics}
    return result, report


def main(argv=None) -> int:
    if not os.path.isdir(os.path.join(ROOT, "kafka_denormalization_spark")):
        print("perfbench: kafka_denormalization_spark/ is not in this checkout", file=sys.stderr)
        return 2
    args = parse_args(argv)
    result, report = run(args)
    for p in report["problems"]:
        print(f"perfbench: {args.workload}: {p}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} {report['host']['master']} "
        f"warm_ops={report['warm_ops']} failed_ops_share={report['failed_ops_share']:.3f} "
        f"steal={report['telemetry_end']['jiffies']['steal'] - report['telemetry_start']['jiffies']['steal']} "
        f"load={report['telemetry_start']['loadavg'][:1]}->{report['telemetry_end']['loadavg'][:1]}",
        file=sys.stderr,
    )
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
