"""Turns the bench JVM's result.json (plus the check results) into the
end-to-end metrics (untraced runs) and the per-layer metrics (traced run)."""
import datetime
import glob
import os

import pyarrow.parquet as pq

import checks
import stats

LAYERS = ("session", "sources", "streaming", "sinks", "text", "dedup",
          "similarity", "graph", "spark")

# End-to-end metrics of an untraced run: name -> (unit, better).
END_TO_END = {
    "setup_s": ("s", "lower"),
    "event_latency_p50_s": ("s", "lower"),
    "event_latency_p90_s": ("s", "lower"),
    "wall_s": ("s", "lower"),
    "rows_per_s": ("1/s", "higher"),
    "recall": ("share", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

# Every per-layer metric of a traced run: (name, unit, better). A workload
# reports 0 for a layer it does not touch. BENCHMARK.json lists the same.
PER_LAYER = [
    ("session.create_s", "s", "lower"),
    ("sources.latest_offset_ms_p50", "ms", "lower"),
    ("sources.get_batch_ms_p50", "ms", "lower"),
    ("sources.rows_in", "count", "higher"),
    ("sources.error_rows", "count", "lower"),
    ("sources.decode_ok_ratio", "share", "higher"),
    ("streaming.batches", "count", "lower"),
    ("streaming.batch_ms_p50", "ms", "lower"),
    ("streaming.batch_ms_p90", "ms", "lower"),
    ("streaming.query_planning_ms_p50", "ms", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.wal_commit_ms_p50", "ms", "lower"),
    ("streaming.commit_offsets_ms_p50", "ms", "lower"),
    ("streaming.rows_per_batch_p50", "count", "higher"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_memory_bytes", "bytes", "lower"),
    ("streaming.state_commit_ms_p50", "ms", "lower"),
    ("streaming.state_partitions", "count", "lower"),
    ("streaming.rows_dropped_by_watermark", "count", "lower"),
    ("streaming.rows_per_s_local1", "1/s", "higher"),
    ("sinks.files_written", "count", "lower"),
    ("sinks.bytes_written", "bytes", "lower"),
    ("sinks.bytes_per_row", "bytes/row", "lower"),
    ("text.wall_s", "s", "lower"),
    ("text.rows_in", "count", "higher"),
    ("text.rows_kept", "count", "higher"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.minhash_s", "s", "lower"),
    ("dedup.components_s", "s", "lower"),
    ("dedup.split_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_pairs", "count", "higher"),
    ("dedup.pair_yield", "share", "higher"),
    ("similarity.lsh_s", "s", "lower"),
    ("similarity.candidates", "count", "lower"),
    ("similarity.pairs", "count", "higher"),
    ("similarity.recall", "share", "higher"),
    ("graph.khop_small_s", "s", "lower"),
    ("graph.khop_large_s", "s", "lower"),
    ("graph.reach_delta_s", "s", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.failed_tasks", "count", "lower"),
    ("spark.busy_share", "share", "higher"),
    ("spark.gc_s", "s", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.shuffle_read_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("spark.plan_analysis_ms", "ms", "lower"),
    ("spark.plan_optimization_ms", "ms", "lower"),
    ("spark.plan_physical_ms", "ms", "lower"),
    ("spark.task_skew", "ratio", "lower"),
    ("gen.input_s", "s", "lower"),
] + [(f"self_s.{layer}", "s", "lower") for layer in LAYERS] + [
    ("self_s.unspanned", "s", "lower"),
    ("trace.root_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.spans", "count", "lower"),
]

# Progress phases in the order MicroBatchExecution runs them, with the layer
# each one belongs to. addBatch runs the batch's whole physical plan.
PHASES = (("latestOffset", "sources"), ("walCommit", "streaming"),
          ("getBatch", "sources"), ("queryPlanning", "spark"),
          ("addBatch", "spark"), ("commitOffsets", "streaming"))


def _epoch(ts):
    return datetime.datetime.fromisoformat(
        ts.replace("Z", "+00:00")).timestamp()


def batch_commits(checkpoint):
    """{batch id: commit time} from the checkpoint's commits/N files."""
    out = {}
    for path in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(path)
        if name.isdigit():
            out[int(name)] = os.stat(path).st_mtime
    return out


def file_batches(checkpoint):
    """{file name: batch id} from the file source log sources/0/N."""
    return {os.path.basename(e["path"]): e["batchId"]
            for e in checks._log_entries(os.path.join(checkpoint, "sources",
                                                      "0"))}


def file_latencies(run):
    """Seconds from the pass's start() until every consumer query has
    committed the batch that read the file, one value per input file."""
    done = {}
    for q in run["queries"]:
        commits = batch_commits(q["checkpoint"])
        for name, batch in file_batches(q["checkpoint"]).items():
            done[name] = max(done.get(name, 0.0), commits[batch])
    return [t - run["start"] for t in done.values()]


def _p(xs, q):
    return stats.percentile(xs, q) if xs else 0.0


def end_to_end(workload, result, launch, check, sizes):
    passes = result["passes"]
    walls = [p["end"] - p["start"] for p in passes]
    if workload == "ingest_backlog":
        lat = [x for p in passes for x in file_latencies(p)]
        if stats.tail_percentile(len(lat)) is None:
            raise checks.CheckFailed(f"{len(lat)} latency samples leave "
                                     "fewer than 10 beyond p90")
    else:
        # a batch pass answers all its rows at once: a row's latency is its
        # pass's wall time
        lat = walls
    wall = stats.median(walls)
    values = {
        # JVM launch, session start and warm-up; input generation is the
        # bench's own work and is reported per layer (gen.input_s)
        "setup_s": result["warm"] - launch,
        "event_latency_p50_s": _p(lat, 50),
        "event_latency_p90_s": _p(lat, 90),
        "wall_s": wall,
        "rows_per_s": sizes["rows"] / wall,
        "recall": check["recall"],
        "peak_rss_mb": result["vm_hwm_kb"] / 1024.0,
    }
    info = {"latency_samples": len(lat),
            "pass_s": [round(w, 2) for w in walls],
            "tail_percentile": stats.tail_percentile(len(lat))}
    return {k: (values[k], unit) for k, (unit, _) in END_TO_END.items()}, info


def _progress_spans(progress, parent):
    """Synthesized child spans for each micro-batch, laid out in phase order
    from the batch start and clipped to the parent span."""
    out = []
    for i, p in enumerate(progress):
        start = _epoch(p["timestamp"])
        d = p["durationMs"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        bid = f"{parent['id']}.b{i}"
        clip = lambda t: min(max(t, parent["start"]), parent["end"])
        out.append({"id": bid, "parent": parent["id"], "layer": "streaming",
                    "name": "batch", "start": clip(start), "end": clip(end)})
        t = start
        for phase, layer in PHASES:
            dur = d.get(phase, 0) / 1000.0
            s, e = clip(t), clip(min(t + dur, end))
            if e > s:
                out.append({"id": f"{bid}.{phase}", "parent": bid,
                            "layer": layer, "name": phase, "start": s,
                            "end": e})
            t += dur
    return out


def _dir_stats(out_dir):
    files = checks.sink_files(out_dir)
    rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
    return len(files), sum(os.path.getsize(f) for f in files), rows


def _parquet_rows(path):
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def per_layer(workload, result, check, cores, gen_s):
    m = {}
    spans = result["spans"]
    root_id = result["root_id"]
    run = result["passes"][0]
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)

    def dur(name):
        return sum(s["end"] - s["start"] for s in by_name.get(name, []))

    m["session.create_s"] = dur("GraftSession.create")

    lis = result["listeners"]
    progress = lis["progress"]
    streaming = workload == "ingest_backlog"
    if streaming:
        parent = by_name["query"][0]
        spans = spans + _progress_spans(progress, parent)

    def phase(name):
        return [p["durationMs"].get(name, 0) for p in progress]

    obs = [p.get("observedMetrics", {}).get("ingest", {}) for p in progress]
    ops = [o for p in progress for o in p.get("stateOperators", [])]
    last_ops = progress[-1].get("stateOperators", []) if progress else []
    with_value = sum(int(o.get("with_value", 0)) for o in obs)
    m.update({
        "sources.latest_offset_ms_p50": _p(phase("latestOffset"), 50),
        "sources.get_batch_ms_p50": _p(phase("getBatch"), 50),
        "sources.rows_in": sum(p["numInputRows"] for p in progress),
        "sources.error_rows": sum(int(o.get("errors", 0)) for o in obs),
        "sources.decode_ok_ratio": (sum(int(o.get("decoded", 0)) for o in obs)
                                    / with_value) if with_value else 0.0,
        "streaming.batches": len(progress),
        "streaming.batch_ms_p50": _p(phase("triggerExecution"), 50),
        "streaming.batch_ms_p90": _p(phase("triggerExecution"), 90),
        "streaming.query_planning_ms_p50": _p(phase("queryPlanning"), 50),
        "streaming.add_batch_ms_p50": _p(phase("addBatch"), 50),
        "streaming.wal_commit_ms_p50": _p(phase("walCommit"), 50),
        "streaming.commit_offsets_ms_p50": _p(phase("commitOffsets"), 50),
        "streaming.rows_per_batch_p50": _p([p["numInputRows"] for p in progress
                                            if p["numInputRows"] > 0], 50),
        "streaming.state_rows": sum(o["numRowsTotal"] for o in last_ops),
        "streaming.state_memory_bytes": sum(o["memoryUsedBytes"]
                                            for o in last_ops),
        "streaming.state_commit_ms_p50": _p(
            [sum(o["commitTimeMs"] for o in p.get("stateOperators", []))
             for p in progress], 50),
        "streaming.state_partitions": sum(o.get("numShufflePartitions", 0)
                                          for o in last_ops),
        "streaming.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "streaming.rows_per_s_local1": 0.0,
        "sinks.files_written": 0, "sinks.bytes_written": 0,
        "sinks.bytes_per_row": 0.0,
    })
    extras = result.get("extras") or {}
    if extras.get("local1_s"):
        m["streaming.rows_per_s_local1"] = extras["local1_rows"] / \
            extras["local1_s"]
    if streaming:
        sink = [_dir_stats(q["out"]) for q in run["queries"]]
        rows = sum(r for _, _, r in sink)
        m["sinks.files_written"] = sum(f for f, _, _ in sink)
        m["sinks.bytes_written"] = sum(b for _, b, _ in sink)
        m["sinks.bytes_per_row"] = m["sinks.bytes_written"] / rows \
            if rows else 0.0

    out = run.get("out", "")
    curation = workload == "curation"
    mh_pairs = _parquet_rows(os.path.join(out, "minhash_pairs")) \
        if curation else 0
    emb_pairs = _parquet_rows(os.path.join(out, "embedding_pairs")) \
        if curation else 0
    m.update({
        "text.wall_s": dur("TextAnalysis filters") + dur("write filtered"),
        "text.rows_in": extras.get("text_rows_in", 0),
        "text.rows_kept": _parquet_rows(os.path.join(out, "filtered"))
        if curation else 0,
        "dedup.exact_s": dur("Dedup.dropExact") + dur("write exact"),
        "dedup.minhash_s": dur("Dedup.minhashPairs") +
        dur("write minhash pairs"),
        "dedup.components_s": dur("Dedup.dropNearDuplicates"),
        "dedup.split_s": dur("Sampling.leakFreeSplit"),
        "dedup.candidate_pairs": extras.get("minhash_candidates", 0),
        "dedup.verified_pairs": mh_pairs,
        "dedup.pair_yield": mh_pairs / extras["minhash_candidates"]
        if extras.get("minhash_candidates") else 0.0,
        "similarity.lsh_s": dur("Dedup.embeddingNearDupPairsLsh") +
        dur("write embedding pairs"),
        "similarity.candidates": extras.get("lsh_candidates", 0),
        "similarity.pairs": emb_pairs,
        "similarity.recall": check.get("similarity_recall", 0.0),
        "graph.khop_small_s": dur("Graph.kHopCountsBitset small"),
        "graph.khop_large_s": dur("Graph.kHopCountsBitset large"),
        "graph.reach_delta_s": dur("Graph.reachSketch deltaOnly"),
    })

    wall = run["end"] - run["start"]
    phases = lis["phases_ms"]
    m.update({
        "spark.jobs": lis["jobs"], "spark.stages": lis["stages"],
        "spark.tasks": lis["tasks"],
        "spark.busy_share": lis["executor_run_ms"] / 1000.0 / (wall * cores),
        "spark.gc_s": lis["gc_ms"] / 1000.0,
        "spark.shuffle_write_bytes": lis["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": lis["shuffle_read_bytes"],
        "spark.spill_bytes": lis["spill_bytes"],
        "spark.plan_analysis_ms": phases.get("analysis", 0),
        "spark.plan_optimization_ms": phases.get("optimization", 0),
        "spark.plan_physical_ms": phases.get("planning", 0),
        "spark.task_skew": lis["task_skew"],
        "spark.failed_tasks": lis["failed_tasks"],
    })

    m["gen.input_s"] = gen_s

    layer_self, root, unspanned = stats.self_times(spans, root_id)
    for layer in LAYERS:
        m[f"self_s.{layer}"] = layer_self.get(layer, 0.0)
    m["self_s.unspanned"] = unspanned
    m["trace.root_s"] = root
    untraced = result["untraced"][0]
    m["trace.overhead_s"] = wall - (untraced["end"] - untraced["start"])
    m["trace.spans"] = len(spans)
    return {name: (m[name], unit) for name, unit, _ in PER_LAYER}
