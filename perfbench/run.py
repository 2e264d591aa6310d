"""CDC freshness, catch-up throughput and corpus-dedup benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. ``--trace 0`` measures the end-to-end
metrics with tracing off; ``--trace 1`` is the separate traced run that
reports the per-layer metrics and writes the span/event-log sidecar
``perfbench/out/trace_<workload>.json``. The last stdout line is the
JSON result {"correct", "attempted", "failed", "metrics"}; the lines
before it name each metric the way the workload's users know it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback


def process_start() -> float:
    """Wall time this process started (from /proc, ~10 ms resolution)."""
    try:
        with open("/proc/self/stat", encoding="ascii") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime", encoding="ascii") as f:
            uptime = float(f.read().split()[0])
        return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))
    except (OSError, ValueError, IndexError):
        return time.time()


T0 = process_start()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")

END_TO_END = {  # name -> unit
    "setup_s": "s", "lag_ms_p50": "ms", "lag_ms_tail": "ms", "rows_per_s": "rows/s",
    "bulk_rows_per_s": "rows/s", "read_ms": "ms",
}
ENGINE = "canal_phoenix_adapter_spark"


def log(msg: str) -> None:
    print(f"perfbench: {time.time() - T0:7.2f}s {msg}", file=sys.stderr, flush=True)


class Ctx:
    def __init__(self, args, work: str):
        self.workload, self.seed, self.seconds = args.workload, args.seed, args.seconds
        self.trace = bool(args.trace)
        self.here, self.work = HERE, work
        self.children: list[subprocess.Popen] = []
        self.spark = None
        self.tracer = None
        self.session_start_s = 0.0
        self.log = log


def pin_environment(work: str, trace: bool) -> None:
    """Pin the session to the host's CPUs and a share of its memory, and
    keep every file it writes inside the run's work directory."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo", encoding="ascii") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1024, min(6144, total_mb // 4))}m"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_SUBMIT_OPTS"] = (os.environ.get("SPARK_SUBMIT_OPTS", "")
                                       + f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    conf = ["spark.ui.showConsoleProgress=false",
            f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir=file://{log_dir}",
                 "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None or getattr(gw, "proc", None) is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        gw.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gw.proc.kill()
        gw.proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_stats(spark) -> tuple[float, float]:
    """(driver JVM peak RSS in MB, total GC seconds). In local mode the
    driver JVM also runs every task."""
    from pyspark import SparkContext

    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    gc_s = sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0
    rss = 0.0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    rss = int(line.split()[1]) / 1024.0
    return rss, gc_s


def setup(ctx) -> float:
    """Set-up as a user's job pays it: from process start (interpreter,
    engine import) through ``get_spark`` (JVM launch, session) to the
    end of a warm-up job. Returns its seconds."""
    from canal_phoenix_adapter_spark.session import get_spark

    ctx.spark = get_spark("perfbench")
    ctx.session_start_s = time.time() - T0
    ctx.spark.range(100_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    setup_s = time.time() - T0
    log(f"set-up done in {setup_s:.2f}s")
    return setup_s


def end_to_end(res: dict, setup_s: float) -> dict:
    """``lag_ms_tail`` is the TAIL_Q percentile, one with at least ten
    lag samples beyond it (user_view names it)."""
    from workloads import TAIL_Q, pct

    lags = res["lags"]
    return {"setup_s": setup_s, "lag_ms_p50": statistics.median(lags),
            "lag_ms_tail": pct(lags, TAIL_Q), "rows_per_s": res["rows_per_s"],
            "bulk_rows_per_s": res["bulk_rows_per_s"], "read_ms": res["read_ms"]}


def user_view(workload: str, res: dict, e2e: dict) -> list[tuple[str, float, str]]:
    """The end-to-end metrics under the names this workload's users
    know them by (README.md maps them), plus a few context figures."""
    from workloads import TAIL_Q, pct

    n = len(res["lags"])
    tail = f"p{round(100 * TAIL_Q)}"
    out = [("setup_s", e2e["setup_s"], "s")]
    if workload == "cdc_trickle_catchup":
        t, c = res["trickle"], res["catchup"]
        bl, ep = c["backlog_lags"], c["epoch_s"]
        return out + [
            ("trickle_small_state.apply_lag_ms_p50", e2e["lag_ms_p50"], f"ms (n={n})"),
            (f"trickle_small_state.apply_lag_ms_{tail}", e2e["lag_ms_tail"], f"ms (n={n})"),
            ("trickle_small_state.sustained_rows_per_s", t["rows_per_s"], "rows/s"),
            ("trickle_small_state.epoch_interval_s_p50", statistics.median(t["epoch_s"]),
             f"s (n={len(t['epoch_s'])})"),
            ("catchup_large_state.backfill_rows_per_s", e2e["bulk_rows_per_s"], "rows/s"),
            ("catchup_large_state.apply_rows_per_s", e2e["rows_per_s"], "rows/s"),
            ("catchup_large_state.epoch_s_p50", statistics.median(ep), f"s (n={len(ep)})"),
            ("catchup_large_state.state_read_s", e2e["read_ms"] / 1000.0, "s"),
            ("catchup_large_state.backlog_lag_ms_p50", statistics.median(bl),
             f"ms (n={len(bl)})"),
            ("catchup_large_state.backlog_lag_ms_p99", pct(bl, 0.99), f"ms (n={len(bl)})")]
    return out + [("corpus_dedup.dedup_docs_per_s", e2e["rows_per_s"],
                   f"docs/s (passes={len(res['text_walls'])})"),
                  ("corpus_dedup.embed_dedup_vecs_per_s", e2e["bulk_rows_per_s"],
                   f"vecs/s (passes={len(res['embed_walls'])})"),
                  ("corpus_dedup.ingest_lag_ms_p50", e2e["lag_ms_p50"],
                   f"ms (n={n} docs in {res['ingest_batches']} batches)"),
                  (f"corpus_dedup.ingest_lag_ms_{tail}", e2e["lag_ms_tail"],
                   f"ms (n={n} docs in {res['ingest_batches']} batches)"),
                  ("corpus_dedup.output_read_s", e2e["read_ms"] / 1000.0, "s")]


def validity_warnings(res: dict) -> list[str]:
    from workloads import TRICKLE_RATE

    out = []
    late = res.get("generator_late_ms_max")
    if late is not None and late > 1000.0 / TRICKLE_RATE:
        out.append(f"generator ran late by up to {late:.1f} ms (more than one period)")
    if res.get("backlog_files_end", 0) > 2 * TRICKLE_RATE:
        out.append(f"{res['backlog_files_end']} files still queued when the generator "
                   "stopped: the offered rate is above sustainable")
    return out


def code_digest() -> str:
    """Digest of the engine's and the benchmark's Python sources: an
    untraced result is a tracing reference only for the same code."""
    h = hashlib.sha256()
    for d in (os.path.join(ROOT, ENGINE), HERE):
        for base, dirs, files in os.walk(d):
            dirs[:] = sorted(x for x in dirs if x not in ("out", "work", "__pycache__"))
            for name in sorted(f for f in files if f.endswith(".py")):
                path = os.path.join(base, name)
                h.update(os.path.relpath(path, ROOT).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def reference_path(args) -> str:
    return os.path.join(OUT, f"untraced_{args.workload}_seed{args.seed}"
                             f"_s{args.seconds}.json")


def untraced_reference(args) -> dict | None:
    """The untraced result of the same workload, seed, --seconds and
    code, which the tracing overhead is measured against; None when no
    such timed run has left its result in perfbench/out."""
    try:
        with open(reference_path(args), encoding="utf-8") as f:
            ref = json.load(f)
    except FileNotFoundError:
        return None
    return ref if ref.get("code") == code_digest() else None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import canal_phoenix_adapter_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    os.makedirs(OUT, exist_ok=True)
    work = os.path.join(HERE, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pin_environment(work, bool(args.trace))
    ctx = Ctx(args, work)
    body = workloads.WORKLOADS[args.workload]
    try:
        setup_s = setup(ctx)
        if ctx.trace:
            from spans import Tracer
            ctx.tracer = Tracer(ctx.spark.sparkContext, args.workload)
        else:
            from spans import NullTracer
            ctx.tracer = NullTracer()
        res = body(ctx)
        log("workload done")
        rss, gc_s = jvm_stats(ctx.spark)
        e2e = end_to_end(res, setup_s)
        errors = list(res["errors"])
        attempted = res["ops"] + 1
        if ctx.trace and "replay" in res:
            attempted += 1
            if not res["replay"]["replay_matches_stream"]:
                errors.append("replayed epochs do not reproduce the stream's final state")
        failed = len(errors)
        for w in validity_warnings(res):
            print(f"perfbench: WARNING {w}", file=sys.stderr)
        for e in errors:
            print(f"perfbench: MISMATCH {e}", file=sys.stderr)
        for name, value, unit in user_view(args.workload, res, e2e):
            print(f"{name} = {value:.4f} {unit}")
        print(f"error_ratio = {failed / attempted:.4f} "
              f"({failed} of {attempted} operations and checks)")
        if ctx.trace:
            from layers import PER_LAYER, per_layer
            stop_spark(ctx.spark)
            ctx.spark = None
            reference = untraced_reference(args)
            if reference is None:
                print("perfbench: WARNING no untraced run of this seed and code to "
                      "compare with; bench.tracing_overhead_ratio is 0", file=sys.stderr)
            metrics = per_layer(ctx, res, reference, e2e, rss, gc_s, failed / attempted)
            units = PER_LAYER
        else:
            metrics, units = e2e, END_TO_END
            with open(reference_path(args), "w", encoding="utf-8") as f:
                json.dump(e2e | {"code": code_digest()}, f)
        print(json.dumps({
            "correct": not errors, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0 if not errors else 1
    except Exception:  # noqa: BLE001 - report the failed run, then clean up
        traceback.print_exc()
        return 1
    finally:
        for p in ctx.children:
            if p.poll() is None:
                p.kill()
            p.wait()
        if ctx.spark is not None:
            stop_spark(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
