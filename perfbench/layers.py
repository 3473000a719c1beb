"""The traced run: spans at every layer boundary and per-layer metrics.

Spans come from three places, all outside the library:

- the benchmark's own timers around calls into a layer
  (``pipeline.build``, ``pipeline.start``, ``sinks.write_batch``,
  ``operators.dedup.*``, ``loadgen.drop``);
- streaming progress events: one ``trigger`` span per (query, batchId)
  with its ``durationMs`` phases as children;
- the event log: jobs (children of the sink call or operator call that
  submitted them) and their stages.

Every ``trigger`` and ``pass`` span gets ``gap`` children for the time
none of its children cover, so a request's duration is either
attributed to a layer or labelled as a gap.
"""

from __future__ import annotations

import statistics

import harness as H

# Per-layer metric -> unit. Times and counts are per unit of work: per
# committed micro-batch on the streaming workloads, per pass on the
# batch workload. A layer that a workload does not use reads 0.
PER_LAYER = {
    "sinks.write_ms": "ms",
    "sinks.jobs_per_batch": "count",
    "sinks.target_read_bytes": "bytes",
    "sinks.rows_written_ratio": "ratio",
    "pipeline.build_ms": "ms",
    "pipeline.start_ms": "ms",
    "pipeline.query_planning_ms": "ms",
    "pipeline.source_scans_per_row": "ratio",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.files_per_batch": "count",
    "sources.backlog_files_max": "count",
    "functions.python_ms": "ms",
    "functions.arrow_bytes_in": "bytes",
    "functions.arrow_bytes_out": "bytes",
    "operators.python_state_ms": "ms",
    "operators.kernel_python_ms": "ms",
    "operators.kernel_arrow_bytes_in": "bytes",
    "operators.kernel_arrow_bytes_out": "bytes",
    "operators.state_commit_ms": "ms",
    "operators.state_update_ms": "ms",
    "operators.state_bytes": "bytes",
    "operators.state_rows": "count",
    "operators.state_instances": "count",
    "operators.rows_dropped_by_watermark": "count",
    "operators.dedup_call_ms.simhash_blocked": "ms",
    "operators.dedup_call_ms.jaccard": "ms",
    "operators.dedup_call_ms.winnow": "ms",
    "operators.dedup_pairs.simhash_blocked": "count",
    "operators.dedup_pairs.jaccard": "count",
    "operators.dedup_pairs.winnow": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "loadgen.late_max_ms": "ms",
    "loadgen.rows_offered": "count",
    "self.sources_ms": "ms",
    "self.pipeline_ms": "ms",
    "self.operators_ms": "ms",
    "self.sinks_ms": "ms",
    "self.streaming_ms": "ms",
    "self.spark_ms": "ms",
    "self.gap_ms": "ms",
    "trace.overhead_pct": "%",
}

# durationMs phases that run before addBatch, in order, by layer
_PHASES = [
    ("latestOffset", "sources"),
    ("walCommit", "streaming"),
    ("getBatch", "sources"),
    ("queryPlanning", "pipeline"),
]

_SELF_LAYERS = ["sources", "pipeline", "operators", "sinks", "streaming", "spark", "gap"]


def _progress_in(events: list[dict], res) -> list[dict]:
    qids = set(res.queries.values())
    return [
        p
        for p in events
        if p.get("id") in qids and p.get("numInputRows", 0) > 0
    ]


def build_spans(tracer: H.Tracer, progress: list[dict], log: H.EventLog, res) -> None:
    """Add trigger/phase, job, stage and gap spans to ``tracer``."""
    label_of = {q: lbl for lbl, q in res.queries.items()}
    add_batch: dict[str, int] = {}
    roots: list[int] = []
    for p in progress:
        req = f"{label_of[p['id']]}:{p['batchId']}"
        d = p["durationMs"]
        t0 = H.iso_to_epoch(p["timestamp"])
        t1 = t0 + d.get("triggerExecution", 0) / 1000.0
        root = tracer.add("trigger", "streaming", t0, t1, request=req)
        roots.append(root)
        # phases before addBatch run from the trigger's start; addBatch
        # and commitOffsets end at its end
        t = t0
        for name, layer in _PHASES:
            dur = d.get(name, 0) / 1000.0
            tracer.add(name, layer, t, t + dur, parent=root, request=req)
            t += dur
        t_commit = t1 - d.get("commitOffsets", 0) / 1000.0
        t_add = t_commit - d.get("addBatch", 0) / 1000.0
        add_batch[req] = tracer.add(
            "addBatch", "streaming", max(t, t_add), t_commit, parent=root, request=req
        )
        tracer.add("commitOffsets", "streaming", t_commit, t1, parent=root, request=req)
    # caller spans (sink writes, operator calls) become parents of jobs
    passes = {s.request: i for i, s in enumerate(tracer.spans) if s.name == "pass"}
    roots += passes.values()
    callers = []
    for i, s in enumerate(tracer.spans):
        if s.name == "sinks.write_batch" and s.request in add_batch:
            s.parent = add_batch[s.request]
            callers.append(i)
        elif s.name.startswith("operators.dedup."):
            s.parent = passes.get(s.request)
            callers.append(i)
    writes = {
        tracer.spans[i].request: i
        for i in callers
        if tracer.spans[i].name == "sinks.write_batch"
    }
    for j in log.jobs:
        qid = j["props"].get("sql.streaming.queryId")
        if qid in label_of:  # a micro-batch job: its sink call or addBatch
            req = f"{label_of[qid]}:{j['props'].get('streaming.sql.batchId')}"
            parent = writes.get(req, add_batch.get(req))
        else:  # a batch job: the operator call, else the pass, running then
            parent = next(
                (
                    i
                    for i in callers + list(passes.values())
                    if tracer.spans[i].start <= j["start"] <= tracer.spans[i].end
                ),
                None,
            )
        req = tracer.spans[parent].request if parent is not None else None
        jid = tracer.add(
            "job", "spark", j["start"], j["end"], parent=parent, request=req, job=j["id"]
        )
        for s in j["stages"]:
            if s in log.stages:
                st, en = log.stages[s]
                tracer.add("stage", "spark", st, en, parent=jid, request=req, stage=s)
    _label_gaps(tracer, roots)


def _label_gaps(tracer: H.Tracer, roots: list[int]) -> None:
    kids: dict[int, list] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    for i in roots:
        r = tracer.spans[i]
        t = r.start
        for a, b in sorted(kids.get(i, [])):
            if a > t:
                tracer.add("gap", "gap", t, a, parent=i, request=r.request)
            t = max(t, b)
        if r.end > t:
            tracer.add("gap", "gap", t, r.end, parent=i, request=r.request)


def per_layer_metrics(res, base, progress_all: list[dict], log: H.EventLog, tracer: H.Tracer) -> dict:
    """Per-layer metrics of the traced phase ``res``; ``base`` is the
    untraced phase of the same run, for the tracing overhead."""
    progress = _progress_in(progress_all, res)
    build_spans(tracer, progress, log, res)
    lay = res.layer
    units = max(1, res.units)
    n_prog = max(1, len(progress))
    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}

    def phase(name: str) -> float:
        return sum(p["durationMs"].get(name, 0) for p in progress) / n_prog

    def state(key: str, agg=sum) -> float:
        vals = [
            sum(op.get(key, 0) for op in p.get("stateOperators", []))
            for p in progress
        ]
        return float(agg(vals)) if vals else 0.0

    writes = [s for s in tracer.spans if s.name == "sinks.write_batch"]
    if writes:
        m["sinks.write_ms"] = sum((s.end - s.start) * 1000.0 for s in writes) / len(writes)
    m["sinks.jobs_per_batch"] = len(log.jobs) / units
    target = sum(
        v for (k, name), v in log.nodes.items()
        if k.startswith("scan:") and "/out/" in k and name == "size of files read"
    )
    m["sinks.target_read_bytes"] = target / units
    if lay.get("sinks.offered"):
        m["sinks.rows_written_ratio"] = lay["sinks.written"] / lay["sinks.offered"]
    starts = max(1, lay.get("pipeline.starts", 0))
    m["pipeline.build_ms"] = lay.get("pipeline.build_ms", 0.0) / starts
    m["pipeline.start_ms"] = lay.get("pipeline.start_ms", 0.0) / starts
    m["pipeline.query_planning_ms"] = phase("queryPlanning")
    scanned = sum(
        v for (k, name), v in log.nodes.items()
        if k.startswith("scan:") and "/out/" not in k and name == "number of output rows"
    )
    if res.rows:
        m["pipeline.source_scans_per_row"] = scanned / res.rows
    m["sources.latest_offset_ms"] = phase("latestOffset")
    m["sources.get_batch_ms"] = phase("getBatch")
    m["sources.files_per_batch"] = lay.get("sources.files", 0.0) / units
    m["sources.backlog_files_max"] = lay.get("sources.backlog_files_max", 0.0)
    nodes = log.nodes
    m["functions.python_ms"] = nodes.get(("functions", "time to run Python workers"), 0.0) / units
    m["functions.arrow_bytes_in"] = nodes.get(("functions", "data sent to Python workers"), 0.0) / units
    m["functions.arrow_bytes_out"] = nodes.get(("functions", "data returned from Python workers"), 0.0) / units
    m["operators.python_state_ms"] = nodes.get(("operators.state", "time to run Python workers"), 0.0) / units
    m["operators.kernel_python_ms"] = nodes.get(("operators.kernel", "time to run Python workers"), 0.0) / units
    m["operators.kernel_arrow_bytes_in"] = nodes.get(("operators.kernel", "data sent to Python workers"), 0.0) / units
    m["operators.kernel_arrow_bytes_out"] = nodes.get(("operators.kernel", "data returned from Python workers"), 0.0) / units
    m["operators.state_commit_ms"] = state("commitTimeMs") / n_prog
    m["operators.state_update_ms"] = state("allUpdatesTimeMs") / n_prog
    m["operators.state_bytes"] = state("memoryUsedBytes", max)
    m["operators.state_rows"] = state("numRowsTotal", max)
    m["operators.state_instances"] = state("numStateStoreInstances", max)
    m["operators.rows_dropped_by_watermark"] = state("numRowsDroppedByWatermark") / n_prog
    for k in ("simhash_blocked", "jaccard", "winnow"):
        m[f"operators.dedup_call_ms.{k}"] = lay.get(f"operators.dedup_call_ms.{k}", 0.0) / units
        m[f"operators.dedup_pairs.{k}"] = lay.get(f"operators.dedup_pairs.{k}", 0.0) / units
    m["streaming.add_batch_ms"] = phase("addBatch")
    m["streaming.wal_commit_ms"] = phase("walCommit")
    m["streaming.commit_offsets_ms"] = phase("commitOffsets")
    m["streaming.trigger_ms"] = phase("triggerExecution")
    for k, v in log.task.items():
        m[f"spark.{k}"] = v / units
    m["loadgen.late_max_ms"] = max(res.late_ms) if res.late_ms else 0.0
    m["loadgen.rows_offered"] = float(res.rows)
    selfs = tracer.self_ms_by_layer()
    for layer in _SELF_LAYERS:
        m[f"self.{layer}_ms"] = selfs.get(layer, 0.0) / units
    m["trace.overhead_pct"] = 100.0 * (
        statistics.median(res.batch_ms) / statistics.median(base.batch_ms) - 1.0
    )
    return m
