#!/usr/bin/env python3
"""Benchmark of the token-table validator: one workload per run.

    python3 perfbench/run.py --workload corpus_scan --seed 1 --seconds 6 \\
        --trace 0

Run from the root of a checkout. The run generates its inputs from
``--seed``, sets up several times, runs the workload's op in a closed loop
with one client for ``--seconds`` and checks every op's output. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A full record (host context,
samples, spans) goes to ``.perfbench/out/``. Everything the run writes
stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
# input sizes and round counts; the self-test shrinks them in-process
CORPUS_ROWS = 4_000
BATCH_ROWS = 2_000
SETUP_ROUNDS = 2
MIN_OPS = 2
DRIVER_MEM = "2g"
LEGACY_NOTE = (
    "bench.py and BENCH_r*.json (min-of-N sums of the operator suite on 32 "
    "cores) are not this benchmark's baseline and are not comparable.")
LAYER_NOTE = (
    "Layer spans re-materialize each layer's output in isolation "
    "(count() of a persisted frame); Spark fuses them in validate, so the "
    "layer times can add up to more than engine.validate_s.")

E2E_UNITS = {"setup_s": "s", "op_s_p50": "s", "rows_per_s": "rows/s",
             "violations_per_s": "violations/s", "peak_rss_mb": "MB"}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["corpus_scan", "append_stream"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def configure_env(run_dir: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside the run's
    directory. Must run before the JVM starts."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    # a bounded heap instead of get_spark's max(8, cores) GB: the host's
    # memory is shared with other tenants
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # spark-submit first runs a launcher JVM, which reads only this variable
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--driver-java-options", shlex.quote(java_opts),
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={run_dir}/warehouse"),
        "pyspark-shell"])


# -- host context ----------------------------------------------------------

def cpu_sample() -> tuple[int, int] | None:
    """(steal, total) jiffies from /proc/stat's aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


def steal_share(start, end) -> float | None:
    if start is None or end is None or end[1] <= start[1]:
        return None
    return (end[0] - start[0]) / (end[1] - start[1])


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _tree() -> list[int]:
    """This process and its descendants: the Python driver, the JVM and
    its Python workers."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of VmHWM (peak RSS) over the tree."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def host_context(spark, cores: int, cpu0, t_start: float) -> dict:
    import pyspark
    try:
        load1 = os.getloadavg()[0]
    except OSError:
        load1 = None
    return {"nproc": len(os.sched_getaffinity(0)),
            "spark_master": spark.sparkContext.master,
            "cores_used": cores,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty(
                "java.version"),
            "python": sys.version.split()[0],
            "cpu_steal_share": steal_share(cpu0, cpu_sample()),
            "load1": load1,
            "wall_s": time.perf_counter() - t_start}


# -- statistics ------------------------------------------------------------

def spread(values: list[float]) -> dict:
    """Median, quartiles and sample count of one metric's samples."""
    vals = sorted(values)
    if len(vals) >= 2:
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
    else:
        q1 = med = q3 = vals[0] if vals else 0.0
    return {"median": med, "q1": q1, "q3": q3, "n": len(vals)}


def median_or_zero(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


# -- the run ---------------------------------------------------------------

def run_ops(wl, deadline: float, min_ops: int, trace: bool, log) -> list:
    """Closed loop, one client: the next op starts when the last ends."""
    ops = []
    while time.perf_counter() < deadline or len(ops) < min_ops:
        n = len(ops)
        trace_id = f"op-{len(wl.tr.spans)}"
        try:
            out = wl.op(trace=trace_id if trace else None)
            bad = wl.expectation(out).mismatches(out.counts, out.verdict_rows)
            extras = wl.traced_extras(trace_id) if trace else {}
        except Exception:       # noqa: BLE001 - counted, the run goes on
            log(f"op {n} raised:\n{traceback.format_exc()}")
            ops.append({"ok": False, "error": True})
            continue
        if bad:
            log(f"op {n} failed the correctness gate: {bad}")
        ops.append({"ok": not bad, "error": False, "wall": out.wall,
                    "rows": out.rows, "violations": out.violations,
                    "trace": trace_id if trace else None, "extras": extras})
    return ops


def e2e_metrics(setup: list[float], ops: list[dict], rss: float) -> dict:
    done = [o for o in ops if not o["error"]]
    return {
        "setup_s": spread(setup),
        "op_s_p50": spread([o["wall"] for o in done]),
        "rows_per_s": spread([o["rows"] / o["wall"] for o in done]),
        "violations_per_s": spread([o["violations"] / o["wall"]
                                    for o in done]),
        "peak_rss_mb": spread([rss]),
    }


def layer_metrics(tr, traced: list[dict], untraced: list[dict],
                  table: dict, probe: dict | None) -> dict:
    """Per-layer metrics from the traced ops' spans; a layer the workload
    does not exercise reads 0."""
    def med(name, traces=("op-",)):
        return median_or_zero(
            s["end"] - s["start"] for s in tr.spans
            if s["name"] == name and s["end"] is not None
            and s["trace"].startswith(traces))

    def attr(name, key):
        return median_or_zero(s["attrs"][key] for s in tr.spans
                              if s["name"] == name and key in s["attrs"])

    ops = [s for s in tr.spans if s["name"] == "op"
           and s["trace"].startswith("op-")]
    work = {k: median_or_zero(sum(x[k] for x in tr.subtree(o)) for o in ops)
            for k in ("jobs", "stages", "tasks")}
    polls = [s for s in tr.spans if s["name"] == "snapshot_poll.poll_once"
             and s["trace"].startswith("op-")]
    extras = [o["extras"] for o in traced if not o["error"]]
    viol_rows = median_or_zero(e["violating_rows"] for e in extras)
    rows = median_or_zero(o["rows"] for o in traced if not o["error"])
    dd = [s for s in tr.spans if s["name"] == "engine.dedupe_violations"]
    keep = median_or_zero(s["attrs"]["rows_out"] / s["attrs"]["rows_in"]
                          for s in dd if s["attrs"].get("rows_in"))
    commit_bytes = [e["commit_metadata_bytes"] for e in extras
                    if "commit_metadata_bytes" in e]
    probe = probe or {}
    traced_p50 = median_or_zero(o["wall"] for o in traced if not o["error"])
    scan_s = med("engine.predicate_violations") + sum(
        med(f"plans.{p}") for p in
        ("Unique", "Reference", "RequiredResources", "Drift"))
    untraced_p50 = median_or_zero(o["wall"] for o in untraced
                                  if not o["error"])
    m = {
        "session.get_spark_s": med("session.get_spark", ("setup",)),
        "compiler.compile_ruleset_s": med("compiler.compile_ruleset"),
        "compiler.predicates": attr("compiler.compile_ruleset", "predicates"),
        "compiler.dataset_plans": attr("compiler.compile_ruleset",
                                       "dataset_plans"),
        "engine.compile_cached_s": med("engine.compile_cached"),
        "engine.predicate_violations_s": med("engine.predicate_violations"),
        "engine.violating_rows": viol_rows,
        "engine.violating_row_ratio": viol_rows / rows if rows else 0.0,
        # the isolated scan and the dataset plans as a share of the op: an
        # upper bound on what a scan-side gain can move op_s_p50
        "engine.scan_share": scan_s / traced_p50 if traced_p50 else 0.0,
        "plans.Unique_s": med("plans.Unique"),
        "plans.Reference_s": med("plans.Reference"),
        "plans.RequiredResources_s": med("plans.RequiredResources"),
        "plans.Drift_s": med("plans.Drift"),
        "engine.dedupe_violations_s": med("engine.dedupe_violations",
                                          ("op-", "flood")),
        "engine.dedupe_keep_ratio": keep,
        "engine.build_verdicts_s": med("engine.build_verdicts"),
        "engine.validate_s": med("engine.validate"),
        "iceberg_py.read_s": med("iceberg_py.read"),
        "iceberg_py.incremental_s": med("iceberg_py.incremental"),
        "iceberg_py.append_s": med("iceberg_py.append"),
        "iceberg_py.metadata_bytes_per_commit": (
            median_or_zero(commit_bytes) if commit_bytes
            else table["metadata_bytes_per_commit"]),
        "iceberg_py.manifests": table["manifests"],
        "iceberg_py.data_files": table["data_files"],
        "snapshot_poll.poll_once_s": med("snapshot_poll.poll_once"),
        "snapshot_poll.poll_once_self_s": median_or_zero(
            tr.self_time(s) for s in polls),
        "lineage.run_s": med("lineage.run", ("flood",)),
        "lineage.batches": probe.get("batches", 0),
        "lineage.batch_wall_ms": probe.get("batch_wall_ms", 0.0),
        "lineage.bytes_per_violation": probe.get("bytes_per_violation", 0.0),
        "spark.jobs": work["jobs"],
        "spark.stages": work["stages"],
        "spark.tasks": work["tasks"],
        "op.self_s": median_or_zero(tr.self_time(o) for o in ops),
        "trace.overhead_s": traced_p50 - untraced_p50,
    }
    return {k: float(v) for k, v in m.items()}


LAYER_UNITS = {
    "engine.violating_row_ratio": "ratio", "engine.dedupe_keep_ratio": "ratio",
    "engine.scan_share": "ratio",
    "iceberg_py.metadata_bytes_per_commit": "B",
    "lineage.bytes_per_violation": "B", "lineage.batch_wall_ms": "ms",
}


def layer_unit(name: str) -> str:
    return LAYER_UNITS.get(name, "s" if name.endswith("_s") else "count")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it. A later
    get_spark in this process (the self-test runs several) launches a new
    JVM."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()      # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    cpu0 = cpu_sample()
    run_dir = STATE / "runs" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    configure_env(run_dir)
    sys.path.insert(0, str(ROOT))

    def log(msg):
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    try:
        from fhir_data_validation_spark.session import get_spark

        from perfbench.trace import Tracer
        from perfbench.workloads import (FLOOD_WHY, WHY, WORKLOADS, Sizes,
                                         generate_inputs)
    except ImportError as exc:
        log(f"cannot import the package under test from {ROOT}: {exc}")
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2

    cores = len(os.sched_getaffinity(0))
    sizes = Sizes(corpus_rows=CORPUS_ROWS, batch_rows=BATCH_ROWS)
    inputs = run_dir / "inputs"
    tracer = Tracer(enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](sizes, inputs, run_dir / "tables", tracer)
    spark = None
    try:
        # session start: launches the JVM, once per process
        t0 = time.perf_counter()
        spark = get_spark(cores=cores)
        session_s = time.perf_counter() - t0
        tracer.add("session.get_spark", t0, t0 + session_s, "setup")
        spark.sparkContext.setLogLevel("ERROR")
        tracer.bind(spark)
        # inputs: generated on this session by every run, so every run
        # starts its set-up rounds from the same JVM state (a cache would
        # make a run that finds its inputs start colder than one that
        # generates them)
        t0 = time.perf_counter()
        generate_inputs(spark, args.workload, sizes, args.seed, cores, inputs)
        prepare_s = time.perf_counter() - t0

        # set-up rounds on the session: Iceberg registration, engine and
        # first compile, one untimed warm-up op. The first round also pays
        # first-use costs (JIT, Python workers).
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            wl.setup(spark)
            rounds.append(time.perf_counter() - t0)
        setup = [session_s + r for r in rounds]

        if args.trace:
            # half the window untraced (the reference for the tracing
            # overhead), half traced with the layer decomposition; one op
            # at least in each half
            tracer.enabled = False
            half = time.perf_counter() + args.seconds / 2
            untraced = run_ops(wl, half, 1, False, log)
            tracer.enabled = True
            traced = run_ops(wl, time.perf_counter() + args.seconds / 2, 1,
                             True, log)
            ops = untraced + traced
            table = wl.table_stats()
            probe = wl.probe(spark)
        else:
            ops = run_ops(wl, time.perf_counter() + args.seconds, MIN_OPS,
                          False, log)
            table, probe = None, None
        rss = tree_peak_rss_mb()
        host = host_context(spark, cores, cpu0, t_start)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(not o["ok"] for o in ops)
    probe_bad = (probe or {}).get("mismatches") or []
    if probe_bad:
        log(f"flood probe failed the correctness gate: {probe_bad}")
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "why": WHY[args.workload], "closed_loop_clients": 1,
        "sizes": vars(sizes), "setup_rounds": SETUP_ROUNDS,
        "host": host, "session_start_s": session_s, "setup_rounds_s": rounds,
        "prepare_inputs_s": prepare_s, "table": table,
        "attempted": len(ops), "failed": failed,
        "failed_ops_ratio": failed / len(ops),
        "legacy_note": LEGACY_NOTE,
    }
    if args.trace:
        metrics = layer_metrics(tracer, traced, untraced, table, probe)
        out = {k: {"value": v, "unit": layer_unit(k)}
               for k, v in metrics.items()}
        record.update(
            metrics=metrics, layer_note=LAYER_NOTE, flood_why=FLOOD_WHY,
            flood_probe=probe,
            untraced_op_s=[o["wall"] for o in untraced if not o["error"]],
            traced_op_s=[o["wall"] for o in traced if not o["error"]],
            span_summary=tracer.summary(), spans=tracer.dump())
    else:
        metrics = e2e_metrics(setup, ops, rss)
        # peak RSS varies 10-15% from run to run with the JVM's heap
        # growth, too much for a bound, so it is reported but not gated
        out = {k: {"value": v["median"], "unit": E2E_UNITS[k]}
               for k, v in metrics.items() if k != "peak_rss_mb"}
        record["metrics"] = metrics
        print("[perfbench] " + "  ".join(
            f"{k}={v['median']:.4g} {E2E_UNITS[k]} (n={v['n']}, "
            f"q1={v['q1']:.4g}, q3={v['q3']:.4g})"
            for k, v in metrics.items())
            + f"  failed_ops_ratio={failed}/{len(ops)}", flush=True)
    out_dir = STATE / "out"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{args.workload}-s{args.seed}-t{args.trace}.json").write_text(
        json.dumps(record, indent=1, default=str))
    print(json.dumps({"correct": failed == 0 and not probe_bad,
                      "attempted": len(ops), "failed": failed,
                      "metrics": out}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
