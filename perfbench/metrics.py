"""Metric names, units and how each is computed from a ``Run``.

End-to-end metrics come from the untraced iterations; per-layer
metrics from the spans of the traced ones (see ``spans.py``). A layer a workload
does not run reports 0: no span, no work. A per-layer figure whose
status-store read failed reports null.
"""

from __future__ import annotations

from spans import median, sum_census, tail

END_TO_END = [
    ("setup_s", "s"), ("rows_per_s", "rows/s"),
    ("batch_p50_ms", "ms"), ("batch_tail_ms", "ms"),
    ("read_p50_ms", "ms"), ("read_tail_ms", "ms"),
    ("load_p50_s", "s"), ("pass_p50_s", "s"),
    ("disk_bytes_per_row", "B/row"), ("peak_rss_mb", "MB"),
]

_LAYER_FIXED = [
    ("avro_landing.convert_ms", "ms"), ("avro_landing.change_mb_s", "MB/s"),
    ("avro_landing.jobs", "count"), ("avro_landing.task_ms", "ms"),
    ("pipeline.apply_ms", "ms"), ("pipeline.jobs", "count"),
    ("pipeline.tasks", "count"), ("pipeline.task_ms", "ms"),
    ("pipeline.shuffle_write_bytes", "B"), ("pipeline.spill_bytes", "B"),
    ("stream.trigger_ms", "ms"), ("stream.add_batch_ms", "ms"),
    ("stream.wal_commit_ms", "ms"), ("stream.latest_offset_ms", "ms"),
    ("stream.start_stop_ms", "ms"),
    ("state.rows_written_per_event", "rows/event"),
    ("state.bytes_written_per_batch", "B"), ("state.files_live", "count"),
    ("state.files_deleted_per_batch", "count"),
    ("read.count_ms", "ms"), ("read.lookup_ms", "ms"), ("read.topk_ms", "ms"),
    ("replication.run_batch_ms", "ms"), ("replication.convert_share", "ratio"),
    ("replication.apply_share", "ratio"),
    ("spark.job_launch_ms", "ms"), ("spark.floor_ms_per_op", "ms"),
    ("trace.overhead_pct", "%"),
]
QUERY_MODULES = ("relational", "cdc_queries", "event_queries",
                 "pipeline_queries")


def _module(registry_fn) -> str:
    return registry_fn.__module__.rsplit(".", 1)[-1]


def queries() -> list[tuple[str, str]]:
    """(module, short name) of each bench.py HEADLINE query."""
    import bench
    return [(_module(reg[name]), short) for short, name, reg in bench.HEADLINE]


def per_layer() -> list[tuple[str, str]]:
    out = list(_LAYER_FIXED)
    for mod, short in queries():
        out += [(f"{mod}.{short}_ms", "ms"), (f"{mod}.{short}_jobs", "count")]
    for mod in QUERY_MODULES:
        out += [(f"{mod}.task_ms", "ms"), (f"{mod}.shuffle_bytes", "B"),
                (f"{mod}.spill_bytes", "B")]
    return out


# ------------------------------------------------------------ end to end

def end_to_end(workload: str, run) -> tuple[dict, dict]:
    """(values, report) of the end-to-end metrics."""
    s, v = run.samples, run.values
    batch_tail, batch_p = tail(s["batch_ms"])
    read_tail, read_p = tail(s["read_ms"])
    pass_s = median(s["pass_s"])
    if workload == "analytics":
        rows_per_s = v["input_rows"] / pass_s
    else:
        rows_per_s = sum(s["events"]) / (sum(s["batch_ms"]) / 1000)
    vals = {
        "setup_s": run.setup_s, "rows_per_s": rows_per_s,
        "batch_p50_ms": median(s["batch_ms"]), "batch_tail_ms": batch_tail,
        "read_p50_ms": median(s["read_ms"]), "read_tail_ms": read_tail,
        "load_p50_s": v["load_p50_s"], "pass_p50_s": pass_s,
        "disk_bytes_per_row": v["disk_bytes_per_row"],
        "peak_rss_mb": v["peak_rss_mb"],
    }
    report = {"batch_tail_percentile": batch_p,
              "batch_samples": len(s["batch_ms"]),
              "read_tail_percentile": read_p,
              "read_samples": len(s["read_ms"]),
              "passes": len(s["pass_s"]),
              "median_ms": {k: median(x) for k, x in s.items()
                            if k.startswith(("q.", "read."))},
              "batch_ms": s["batch_ms"], "pass_s": s["pass_s"]}
    return vals, report


# ------------------------------------------------------------- per layer

def _under(span, by_id, name: str) -> bool:
    """True when some ancestor of ``span`` is named ``name``."""
    p = span.parent
    while p is not None:
        if by_id[p].name == name:
            return True
        p = by_id[p].parent
    return False


def _mean_census(tracer, spans, key: str, inclusive: bool = False):
    if not spans:
        return 0
    c = sum_census(spans, tracer, inclusive)
    return None if c is None else c[key] / len(spans)


def layers(workload: str, run) -> tuple[dict, dict]:
    """(values, report) of the per-layer metrics."""
    tr = run.tracer
    by_id = {s.id: s for s in tr.spans}
    vals = {name: 0 for name, _ in per_layer()}
    report = {}
    t = run.traced

    def med(xs):
        return median(xs) if xs else 0

    for kind in ("count", "lookup", "topk"):
        vals[f"read.{kind}_ms"] = med(t.get(f"read.{kind}_ms", []))
    launch = run.layer["job_launch_ms"]
    vals["spark.job_launch_ms"] = launch

    if workload == "cdc-steady":
        batches = tr.named("batch")
        conv = [s for s in tr.named("avro_landing.convert")
                if _under(s, by_id, "batch")]
        apply = [s for s in tr.named("pipeline.apply")
                 if _under(s, by_id, "batch")]
        deltas = run.layer.get("batches", [])
        vals["avro_landing.convert_ms"] = med([s.ms for s in conv])
        conv_s = sum(s.ms for s in conv) / 1000
        vals["avro_landing.change_mb_s"] = (
            sum(d["change_bytes"] for d in deltas) / 1e6 / conv_s
            if conv_s else 0)
        vals["avro_landing.jobs"] = _mean_census(tr, conv, "jobs")
        vals["avro_landing.task_ms"] = _mean_census(tr, conv, "task_ms")
        vals["pipeline.apply_ms"] = med([s.ms for s in apply])
        for key in ("jobs", "tasks", "task_ms", "shuffle_write_bytes",
                    "spill_bytes"):
            vals[f"pipeline.{key}"] = _mean_census(tr, apply, key)
        for name, key in (("trigger_ms", "triggerExecution"),
                          ("add_batch_ms", "addBatch"),
                          ("wal_commit_ms", "walCommit"),
                          ("latest_offset_ms", "latestOffset")):
            vals[f"stream.{name}"] = med(
                [d["duration_ms"].get(key, 0) for d in deltas])
        vals["stream.start_stop_ms"] = med([d["start_stop_ms"]
                                            for d in deltas])
        if deltas:
            n = len(deltas)
            vals["state.rows_written_per_event"] = sum(
                d["rows_written_per_event"] for d in deltas) / n
            vals["state.bytes_written_per_batch"] = sum(
                d["bytes_written"] for d in deltas) / n
            vals["state.files_live"] = med([d["files_live"] for d in deltas])
            vals["state.files_deleted_per_batch"] = sum(
                d["files_deleted"] for d in deltas) / n
        loads = tr.named("replication.run_batch")
        load_ms = sum(s.ms for s in loads)
        if load_ms:
            vals["replication.run_batch_ms"] = med([s.ms for s in loads])
            for name, span in (("convert_share", "avro_landing.convert"),
                               ("apply_share", "pipeline.apply")):
                vals[f"replication.{name}"] = sum(
                    s.ms for s in tr.named(span)
                    if _under(s, by_id, "replication.run_batch")) / load_ms
        jobs = _mean_census(tr, batches, "jobs", inclusive=True)
        vals["spark.floor_ms_per_op"] = (None if jobs is None
                                         else jobs * launch)
        base, traced = median(run.samples["batch_ms"]), med(t["batch_ms"])
        report["dominant_batch_layer"] = _dominant(tr, batches)
    else:
        per_pass = max(1, len(t.get("pass_s", [])))
        for mod, short in queries():
            spans = tr.named(f"query.{mod}.{short}")
            vals[f"{mod}.{short}_ms"] = med([s.ms for s in spans])
            vals[f"{mod}.{short}_jobs"] = _mean_census(tr, spans, "jobs")
        for mod in QUERY_MODULES:
            spans = [s for s in tr.spans
                     if s.name.startswith(f"query.{mod}.")]
            c = sum_census(spans)
            for name, key in (("task_ms", "task_ms"),
                              ("shuffle_bytes", "shuffle_write_bytes"),
                              ("spill_bytes", "spill_bytes")):
                vals[f"{mod}.{name}"] = (None if c is None
                                         else c[key] / per_pass)
        qspans = [s for s in tr.spans if s.name.startswith("query.")]
        c = sum_census(qspans)
        vals["spark.floor_ms_per_op"] = (None if c is None
                                         else c["jobs"] / per_pass * launch)
        base, traced = median(run.samples["pass_s"]), med(t["pass_s"])
    vals["trace.overhead_pct"] = (traced - base) / base * 100
    report["trace_overhead_base"] = base
    report["trace_overhead_traced"] = traced
    return vals, report


def _dominant(tr, batches) -> dict:
    """Self time per span name under the batch spans, as a share of
    the summed batch wall; names the largest."""
    selfs = tr.self_ms()
    kids = tr.children()
    total = sum(s.ms for s in batches)
    by_name: dict[str, float] = {}
    todo = list(batches)
    while todo:
        s = todo.pop()
        by_name[s.name] = by_name.get(s.name, 0) + selfs[s.id]
        todo += kids.get(s.id, [])
    shares = {k: v / total for k, v in sorted(by_name.items(),
                                              key=lambda kv: -kv[1])}
    return {"layer": next(iter(shares), None), "self_share": shares}
