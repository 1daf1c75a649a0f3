#!/usr/bin/env python3
"""Lakehouse benchmark: one workload, one seed, one closed-loop client.

    python3 lakebench/run.py --workload cdc_upsert --seed 1 --seconds 20 --trace 0

Run from the repository root. The client runs ops one after another on a
``local[<nproc - 1>]`` session, each waiting for the previous one, in whole
passes over the workload's op set until ``--seconds`` of op time is
spent. Every result is checked against an independent oracle outside the
timed calls. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Host context goes to stderr and, with the spans of a traced run, to
``.lakebench/out/``. See ``lakebench/README.md``.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(ROOT, ".lakebench")
WORK = os.path.join(STATE, "work")
OUT = os.path.join(STATE, "out")

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}

_FMTS = ("lake", "delta", "iceberg")
_STREAM_MS = ("trigger", "addBatch", "queryPlanning", "getBatch", "latestOffset",
              "walCommit", "commitOffsets")
PER_LAYER = {
    **{f"{f}.upsert_s": "s" for f in _FMTS},
    **{f"{f}.stat_max_s": "s" for f in _FMTS},
    "cdc.self_s": "s",
    "cdc.applied_ratio": "ratio",
    "driver.gap_s": "s",
    "spark.job_s": "s",
    "spark.job_sum_s": "s",
    "concurrency.overlap": "ratio",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    **{f"{f}.{k}": u for f in _FMTS for k, u in (
        ("bytes_written", "bytes"), ("files_written", "count"),
        ("meta_files_written", "count"), ("live_files", "count"))},
    "write_amp": "ratio",
    "space_amp": "ratio",
    **{f"{f}.read.{k}_s": "s" for f in _FMTS for k in ("plan", "exec")},
    **{f"{f}.changes.{k}_s": "s" for f in ("delta", "iceberg") for k in ("plan", "exec")},
    **{f"{f}.history_s": "s" for f in _FMTS},
    "spark.input_bytes": "bytes",
    "queries.build_s": "s",
    "queries.exec_s": "s",
    "queries.failed": "count",
    "spark.cached_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.output_bytes": "bytes",
    "stream.batches": "count",
    "stream.input_rows": "count",
    **{f"stream.{k}_ms": "ms" for k in _STREAM_MS},
    "stream.state_commit_ms": "ms",
    "stream.state_rows": "count",
    "stream.gap_s": "s",
    "session.start_s": "s",
    "failed_op_share": "ratio",
    "trace.bookkeeping_s": "s",
}


@dataclass
class Ctx:
    spark: object
    spans: object
    work: str
    seed: int
    trace: bool


def _vmhwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _cpu_steal() -> tuple[int, int]:
    """Steal and total CPU time of the host, in clock ticks, from
    ``/proc/stat``: the time a virtual machine's CPUs waited while the
    hypervisor ran other guests."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _head() -> str:
    """The checkout's commit, read from .git without running git."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def _calibrate(spark, lineitem: str) -> dict[str, float]:
    """The two probes ``bench.py`` runs: codegen CPU and a parquet scan."""
    t = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * 2)").collect()
    cpu = time.perf_counter() - t
    t = time.perf_counter()
    spark.read.parquet(lineitem).selectExpr(
        "sum(l_extendedprice * (1 - l_discount))", "count(*)").collect()
    return {"calib_cpu_sec": cpu, "calib_scan_sec": time.perf_counter() - t}


#: A run whose ``calib_cpu_sec`` is more than this factor off that of the
#: last untraced run of the same workload is marked as run in another
#: measurement window.
DRIFT = 1.5


def window_drift(calib_cpu: float, last_path: str) -> dict | None:
    """Compare this run's CPU probe with the last untraced run's, so runs
    from two host speed windows are not compared silently."""
    try:
        with open(last_path) as f:
            base = json.load(f)
    except (OSError, ValueError):
        return None
    ratio = calib_cpu / base["calib_cpu_sec"]
    return {"last_seed": base["seed"], "calib_cpu_ratio": ratio,
            "drifted": not 1 / DRIFT <= ratio <= DRIFT}


def _quantile(xs: list[float], q: float) -> float:
    """Quantile by linear interpolation between order statistics; with a
    few dozen samples it is steadier than the nearest rank, which jumps
    between the latency clusters of different op kinds."""
    if len(xs) == 1:
        return xs[0]
    return statistics.quantiles(xs, n=100, method="inclusive")[round(q * 100) - 1]


def _start_session(cpus: int):
    from aws_glue_data_lake_spark.session import get_spark

    return get_spark(
        "lakebench",
        cpus=cpus,
        extra_conf={
            # A 2 GiB heap, because the host's memory is shared. It is
            # pinned (-Xms = -Xmx), because a growable heap grew by GC
            # heuristics and made the JVM's peak RSS swing 15-45% between
            # runs. The young generation is fixed (-Xmn), because G1 then
            # reuses the same eden regions, and the peak RSS follows the
            # memory the program holds; with an adaptive young generation
            # every page of the pinned heap was touched in every run.
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK} -Xms2g -Xmn512m",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def end_to_end_metrics(setup_s: float, latencies: list[float], rows: int,
                       rss_mb: float) -> dict[str, float]:
    busy = sum(latencies)
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(latencies),
        "op_p90_s": _quantile(latencies, 0.9),
        "ops_per_s": len(latencies) / busy,
        "rows_per_s": rows / busy,
        "peak_rss_mb": rss_mb,
    }


def trace_summary_metrics(failed: int, attempted: int, bookkeeping: float) -> dict[str, float]:
    return {"failed_op_share": failed / attempted,
            "trace.bookkeeping_s": bookkeeping / attempted}


def layer_metrics(spans, jobs, progress, ops: list[dict], wl) -> dict[str, float]:
    """Per-layer numbers from the traced run: span means per call, Spark
    job figures per op, streaming figures per micro-batch or per drain."""
    total, count = {}, {}
    for s in spans.items:
        if s["op"] is None and s["name"] != "session.start":
            continue
        total[s["name"]] = total.get(s["name"], 0.0) + s["end"] - s["start"]
        count[s["name"]] = count.get(s["name"], 0) + 1
    self_s = spans.self_seconds()

    def mean(name: str) -> float:
        return total.get(name, 0.0) / max(1, count.get(name, 0))

    out = {k: 0.0 for k in PER_LAYER}
    for f in _FMTS:
        out[f"{f}.upsert_s"] = mean(f"{f}.upsert")
        out[f"{f}.stat_max_s"] = mean(f"{f}.stat_max")
        out[f"{f}.read.plan_s"] = mean(f"{f}.read.plan")
        out[f"{f}.read.exec_s"] = mean(f"{f}.read.exec")
        out[f"{f}.history_s"] = mean(f"{f}.history")
        if f != "lake":
            out[f"{f}.changes.plan_s"] = mean(f"{f}.changes.plan")
            out[f"{f}.changes.exec_s"] = mean(f"{f}.changes.exec")
    merges = count.get("cdc.merge_cdc_batch", 0)
    out["cdc.self_s"] = self_s.get("cdc.merge_cdc_batch", 0.0) / max(1, merges)
    out["session.start_s"] = total.get("session.start", 0.0)

    from lakebench.tracing import union_length

    n = max(1, len(ops))
    job_s = job_sum = 0.0
    for o in ops:
        mine = [(max(j["start"], o["t0"]), min(j["end"], o["t1"])) for j in jobs.op_jobs(o["id"])]
        mine = [(a, b) for a, b in mine if b > a]
        job_s += union_length(mine)
        job_sum += sum(b - a for a, b in mine)
        out["driver.gap_s"] += (o["t1"] - o["t0"] - union_length(mine)) / n
    timed = [j for j in jobs.jobs if j["op"] is not None]
    out["spark.job_s"] = job_s / n
    out["spark.job_sum_s"] = job_sum / n
    out["concurrency.overlap"] = job_sum / job_s if job_s else 0.0
    out["spark.jobs"] = len(timed) / n
    for key, name in (("tasks", "spark.tasks"), ("run_s", "spark.executor_run_s"),
                      ("input_bytes", "spark.input_bytes"),
                      ("shuffle_write_bytes", "spark.shuffle_write_bytes"),
                      ("output_bytes", "spark.output_bytes")):
        out[name] = sum(j[key] for j in timed) / n
    out["spark.cached_bytes"] = jobs.cached_bytes_peak

    if progress is not None:
        batches = [b for b in progress.batches if b.get("op") is not None]
        drains = max(1, len({b["op"] for b in batches}))
        nb = max(1, len(batches))
        out["stream.batches"] = len(batches) / drains
        out["stream.input_rows"] = sum(b["rows"] for b in batches) / drains
        for k in _STREAM_MS:
            src = "triggerExecution" if k == "trigger" else k
            out[f"stream.{k}_ms"] = sum(b["duration_ms"].get(src, 0) for b in batches) / nb
        out["stream.state_commit_ms"] = sum(b["state_commit_ms"] for b in batches) / nb
        out["stream.state_rows"] = sum(b["state_rows"] for b in batches) / nb
        gaps = [
            o["t1"] - o["t0"] - sum(b["duration_ms"].get("triggerExecution", 0)
                                    for b in batches if b["op"] == o["id"]) / 1000.0
            for o in ops if any(b["op"] == o["id"] for b in batches)
        ]
        out["stream.gap_s"] = sum(gaps) / max(1, len(gaps))
    out.update(wl.layer_metrics())
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import aws_glue_data_lake_spark  # noqa: F401
    except ImportError as exc:
        print(f"lakebench: the engine package is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    import numpy as np

    from lakebench.tracing import JobLog, ProgressLog, Spans
    from lakebench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"lakebench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    # Every byte the run writes stays under .lakebench/: Spark's local and
    # temp dirs, the registry's temporary tables, the Python workers' path.
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    os.makedirs(OUT, exist_ok=True)
    os.environ["TMPDIR"] = WORK
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_NO_REORDER"] = "1"
    import tempfile

    tempfile.tempdir = WORK

    trace = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    # One core is left to the Python driver and the JVM's own GC and JIT
    # threads. With a task thread on every core, a run measured whichever
    # thread the host descheduled: on a 4-core VM, five cdc_upsert runs on
    # local[4] interleaved with five on local[3] spread twice as much
    # (IQR/median of the median op 0.23 against 0.11) at the same median
    # op latency; local[2] and local[1] were slower and no steadier.
    cpus = max(1, nproc - 1)
    spans = Spans(trace)
    with spans.span("session.start"):
        spark = _start_session(cpus)
    try:
        ctx = Ctx(spark=spark, spans=spans, work=WORK, seed=args.seed, trace=trace)
        jobs = JobLog(spark) if trace else None
        progress = ProgressLog(spark) if trace else None
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        if jobs is not None:
            jobs.poll(None, 0.0, 0.0)  # setup's jobs belong to no op

        rng = np.random.default_rng([args.seed, 99])
        lat: list[float] = []
        ops: list[dict] = []
        failures: dict[int, str] = {}
        rows = 0
        bookkeeping = 0.0
        setup_s = None
        while sum(lat) < args.seconds:
            for op in wl.pass_ops(rng):
                if setup_s is None:
                    setup_s = time.perf_counter() - _T0
                    steal0 = _cpu_steal()
                op_id = len(lat)
                spans.op = op_id
                n_batches = len(progress.batches) if progress else 0
                w0, p0 = time.time(), time.perf_counter()
                try:
                    result, err = wl.run(op), None
                except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                    result, err = None, f"{type(exc).__name__}: {exc}"
                lat.append(time.perf_counter() - p0)
                w1 = time.time()
                spans.op = None
                rows += op.rows
                ops.append({"id": op_id, "kind": op.kind, "fmt": op.fmt,
                            "arg": [str(a) for a in op.arg], "t0": w0, "t1": w1,
                            "latency_s": lat[-1]})
                b0 = time.perf_counter()
                if jobs is not None:
                    progress.settle()
                    for b in progress.batches[n_batches:]:
                        b["op"] = op_id
                    jobs.poll(op_id, w0, w1)
                bookkeeping += time.perf_counter() - b0
                if err is None:
                    try:
                        err = wl.check(op, result, op_id)
                    except Exception as exc:  # noqa: BLE001
                        err = f"check raised {type(exc).__name__}: {exc}"
                if err:
                    failures[op_id] = err
        # Peak memory up to the end of the timed loop, before the end-of-run
        # checks and the calibration probes add their own.
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        rss = {"rss_python_mb": _vmhwm_kb("self") / 1024.0,
               "rss_jvm_mb": _vmhwm_kb(jvm_pid) / 1024.0}
        rss_mb = rss["rss_python_mb"] + rss["rss_jvm_mb"]
        steal1 = _cpu_steal()
        steal_share = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        failures.update(wl.finish())

        # Host context, outside the timed region.
        lineitem = os.path.join(WORK, "fixtures", "lineitem.parquet")
        if not os.path.exists(lineitem):
            from lakebench import inputs

            inputs.write_fixtures(os.path.join(WORK, "calib"), args.seed)
            lineitem = os.path.join(WORK, "calib", "lineitem.parquet")
        host = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
                "spark_threads": cpus,
                "head": _head(), "trace": args.trace, **rss, "steal_share": steal_share,
                **_calibrate(spark, lineitem)}
        last = os.path.join(OUT, f"last_untraced_{args.workload}.json")
        host["window"] = window_drift(host["calib_cpu_sec"], last)

        attempted = len(lat)
        failed = len(failures)
        if trace:
            metrics = layer_metrics(spans, jobs, progress, ops, wl)
            metrics.update(trace_summary_metrics(failed, attempted, bookkeeping))
            units = PER_LAYER
        else:
            metrics = end_to_end_metrics(setup_s, lat, rows, rss_mb)
            units = END_TO_END
        record = {**host, "attempted": attempted, "failed": failed,
                  "failures": {str(k): v for k, v in failures.items()},
                  "op_p50_s": statistics.median(lat),
                  "latencies_s": lat,
                  "metrics": metrics}
        tag = f"{args.workload}_seed{args.seed}_trace{args.trace}"
        if trace:
            if os.path.exists(last):
                with open(last) as f:
                    base = json.load(f)
                record["overhead_vs_untraced"] = {
                    "untraced_seed": base["seed"],
                    "op_p50_ratio": record["op_p50_s"] / base["op_p50_s"],
                }
            spans.dump(os.path.join(OUT, f"spans_{tag}.json"),
                       {"host": host, "ops": ops, "jobs": jobs.jobs,
                        "stream_batches": progress.batches,
                        "overhead_vs_untraced": record.get("overhead_vs_untraced")})
            progress.close()
        else:
            with open(last, "w") as f:
                json.dump(record, f)
        with open(os.path.join(OUT, f"result_{tag}.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({k: record[k] for k in ("workload", "seed", "nproc", "spark_threads",
                                                  "head", "calib_cpu_sec", "calib_scan_sec",
                                                  "attempted", "rss_python_mb", "rss_jvm_mb",
                                                  "steal_share", "window")}
                         | {"failures": record["failures"],
                            "overhead_vs_untraced": record.get("overhead_vs_untraced")}),
              file=sys.stderr)
    finally:
        _stop_session(spark)
        shutil.rmtree(WORK, ignore_errors=True)

    for name, value in metrics.items():
        print(f"{name} = {value:.6g} {units[name]}")
    window = host["window"]
    print(f"cpu steal during the timed loop = {100 * host['steal_share']:.3g}%")
    print(f"calib_cpu_sec = {host['calib_cpu_sec']:.6g} s"
          + (f" ({window['calib_cpu_ratio']:.3g}x the last untraced run of this workload"
             f"{'; DRIFTED WINDOW, compare with care' if window['drifted'] else ''})"
             if window else ""))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
