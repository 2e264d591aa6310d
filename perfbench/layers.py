"""Per-layer metrics of the traced run, reduced from its spans, the
stream's progress reports, the replayed epochs and the Spark event log.
Writes the sidecar ``perfbench/out/trace_<workload>.json``. A layer
that does not run on a workload reports 0 (the corpus layers on the CDC
workloads and the reverse: predicted flat)."""

from __future__ import annotations

import json
import os
import statistics
from urllib.parse import urlparse

from spans import (event_log_files, fold_stream_groups, reduce_event_log, self_times,
                   spark_counters_for)

PER_LAYER = {  # name -> unit
    "session.start_s": "s", "session.jvm_peak_rss_mb": "MB", "session.gc_s": "s",
    "stream.batches": "count", "stream.rows_per_batch_p50": "rows",
    "stream.queue_wait_ms_p50": "ms", "stream.trigger_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms", "stream.overhead_ms_p50": "ms",
    "stream.backlog_files_end": "count", "stream.self_s": "s",
    "events.rows_parsed": "rows", "events.rows_routed": "rows", "events.routed_ratio": "ratio",
    "events.busy_s": "s", "events.self_s": "s",
    "merge.rows_in": "rows", "merge.keys_touched": "count", "merge.collapse_ratio": "ratio",
    "merge.busy_s": "s", "merge.shuffle_bytes": "bytes", "merge.self_s": "s",
    "store.epoch_s": "s", "store.jobs_per_epoch": "count", "store.stages_per_epoch": "count",
    "store.bytes_written_per_epoch": "bytes", "store.write_amp": "ratio",
    "store.state_rows": "rows", "store.files_current": "count", "store.read_s": "s",
    "store.self_s": "s",
    "etl.rows": "rows", "etl.busy_s": "s", "etl.shuffle_bytes": "bytes", "etl.self_s": "s",
    "text.clean_s": "s", "text.self_s": "s",
    "dedup.minhash_s": "s", "dedup.candidate_pairs": "count", "dedup.true_pair_ratio": "ratio",
    "dedup.clusters_s": "s", "dedup.cluster_jobs": "count", "dedup.self_s": "s",
    "similarity.lsh_s": "s", "similarity.candidate_pairs": "count",
    "similarity.kept_ratio": "ratio", "similarity.python_eval_nodes": "count",
    "similarity.self_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.executor_cpu_s": "s", "spark.executor_run_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "bench.generator_late_ms_max": "ms", "bench.tracing_overhead_ratio": "ratio",
    "bench.self_s": "s", "bench.error_ratio": "ratio",
}
LAYERS = ("stream", "events", "merge", "store", "etl", "text", "dedup", "similarity",
          "bench")


def _med(xs, default=0.0) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else default


def _progress(res: dict) -> list[dict]:
    out = []
    for p in res.get("progress", []):
        out.append(json.loads(p.json) if hasattr(p, "json") else dict(p))
    return out


def per_layer(ctx, res: dict, reference: dict | None, e2e: dict, rss: float, gc_s: float,
              error_ratio: float) -> dict:
    spans = ctx.tracer.spans
    reduced = reduce_event_log(event_log_files(os.path.join(ctx.work, "eventlog")))
    fold_stream_groups(reduced, spans)
    by_name: dict[str, list[dict]] = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        return [s["end"] - s["start"] for s in by_name.get(name, [])]

    def counters(name):
        return spark_counters_for(reduced, [s["id"] for s in by_name.get(name, [])])

    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = ctx.session_start_s
    m["session.jvm_peak_rss_mb"] = rss
    m["session.gc_s"] = gc_s

    progress = _progress(res)
    if progress:
        trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
        add = [p["durationMs"].get("addBatch", 0) for p in progress]
        m["stream.batches"] = len(progress)
        m["stream.rows_per_batch_p50"] = _med(p["numInputRows"] for p in progress)
        m["stream.trigger_ms_p50"] = _med(trig)
        m["stream.add_batch_ms_p50"] = _med(add)
        m["stream.overhead_ms_p50"] = _med(t - a for t, a in zip(trig, add))
        m["stream.backlog_files_end"] = res.get("backlog_files_end", 0)
        m["stream.queue_wait_ms_p50"] = _med(res.get("queue_wait_ms", []))

    epochs = res.get("replay", {}).get("epochs", [])
    if epochs:
        parsed = sum(e["rows_parsed"] for e in epochs)
        routed = sum(e["rows_routed"] for e in epochs)
        keys = sum(e["keys_touched"] for e in epochs)
        m["events.rows_parsed"] = parsed
        m["events.rows_routed"] = routed
        m["events.routed_ratio"] = routed / parsed if parsed else 0.0
        m["events.busy_s"] = sum(dur("events.typed_changes"))
        m["merge.rows_in"] = routed
        m["merge.keys_touched"] = keys
        m["merge.collapse_ratio"] = keys / routed if routed else 0.0
        m["merge.busy_s"] = sum(dur("merge.merge_cdc"))
        m["merge.shuffle_bytes"] = counters("merge.merge_cdc")["shuffle_write_bytes"]
        store_spans = [s for s in by_name.get("store.apply_cdc_epoch", [])]
        committed = {e["span"]["store"] for e in epochs if e["committed"]}
        per_epoch = [reduced.get("group:" + s["id"], {}) for s in store_spans
                     if s["id"] in committed]
        m["store.epoch_s"] = _med(s["end"] - s["start"] for s in store_spans
                                  if s["id"] in committed)
        m["store.jobs_per_epoch"] = _med(r.get("jobs", 0) for r in per_epoch)
        m["store.stages_per_epoch"] = _med(r.get("stages", 0) for r in per_epoch)
        written = [r.get("output_bytes", 0) for r in per_epoch]
        m["store.bytes_written_per_epoch"] = _med(written)
        files = res.get("state_files", [])
        m["store.files_current"] = len(files)
        m["store.state_rows"] = res.get("state_rows", 0)
        state_bytes = sum(os.path.getsize(urlparse(f).path) for f in files)
        if routed and m["store.state_rows"]:
            row_bytes = state_bytes / m["store.state_rows"]
            m["store.write_amp"] = sum(written) / (routed * row_bytes)
    m["store.read_s"] = _med(dur("store.read"))

    m["etl.rows"] = res.get("etl_rows", 0)
    m["etl.busy_s"] = sum(dur("etl.etl_import"))
    m["etl.shuffle_bytes"] = counters("etl.etl_import")["shuffle_write_bytes"]

    m["text.clean_s"] = _med(dur("text.clean"))
    m["dedup.minhash_s"] = _med(dur("dedup.minhash"))
    m["dedup.clusters_s"] = _med(dur("dedup.clusters"))
    m["dedup.cluster_jobs"] = _med(reduced.get("group:" + s["id"], {}).get("jobs", 0)
                                   for s in by_name.get("dedup.clusters", []))
    cands = res.get("candidate_pairs", 0)
    m["dedup.candidate_pairs"] = cands
    m["dedup.true_pair_ratio"] = res.get("planted_pairs", 0) / cands if cands else 0.0
    m["similarity.lsh_s"] = _med(dur("similarity.near_dup_lsh"))
    vc = res.get("vec_candidate_pairs", 0)
    m["similarity.candidate_pairs"] = vc
    m["similarity.kept_ratio"] = res.get("found_vec_pairs", 0) / vc if vc else 0.0
    sim = by_name.get("similarity.near_dup_lsh", [])
    if sim:
        plan = reduced.get("group:" + sim[0]["id"], {}).get("plan", {})
        m["similarity.python_eval_nodes"] = (plan.get("BatchEvalPython", 0)
                                             + plan.get("ArrowEvalPython", 0))

    measured = [s["id"] for s in spans if s["layer"] != "bench"]
    tot = spark_counters_for(reduced, measured)
    for k in ("jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
              "output_bytes"):
        m[f"spark.{k}"] = tot[k]

    st = self_times(spans)
    for layer in LAYERS:
        m[f"{layer}.self_s"] = st.get(layer, 0.0)
    m["bench.generator_late_ms_max"] = res.get("generator_late_ms_max", 0.0)
    if reference is not None:
        m["bench.tracing_overhead_ratio"] = e2e["lag_ms_p50"] / reference["lag_ms_p50"]
    m["bench.error_ratio"] = error_ratio

    sidecar = {
        "workload": ctx.workload, "seed": ctx.seed, "seconds": ctx.seconds,
        "per_layer": m, "end_to_end_traced": e2e, "end_to_end_untraced": reference,
        "spans": spans,
        "spark_per_span": {k: v for k, v in reduced.items() if k.startswith("group:")},
        "spark_per_batch": {k: v for k, v in reduced.items() if k.startswith("batch:")},
        "stream_progress": progress, "replay_epochs": epochs,
        "replay_matches_stream": res.get("replay", {}).get("replay_matches_stream"),
    }
    path = os.path.join(ctx.here, "out", f"trace_{ctx.workload}.json")
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        json.dump(sidecar, f, indent=1, default=str)
    os.replace(path + ".tmp", path)
    return m

