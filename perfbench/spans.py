"""In-memory spans for traced runs, written out when the run ends.

A span has a name, a start and end (epoch seconds), the span that caused
it, and the id of the request or operation it belongs to. A layer's self
time is its spans' durations minus the part covered by their children.
"""

import json

# Which end-to-end metric each per-layer metric should move, and where.
LAYER_MAP = {
    "server.overhead_ms": "p50_ms on serve_export (large share)",
    "server.resp_bytes": "p50_ms on serve_export",
    "server.no_response": "failed/attempted on serve_export",
    "server.inband_errors": "failed/attempted on serve_export",
    "server.self_ms": "p50_ms on serve_export",
    "engine.execute_ms": "p50_ms on serve_export",
    "engine.analysis_ms": "p50_ms on serve_export; about 0 share on pipeline_refresh",
    "engine.optimization_ms": "p50_ms on serve_export; about 0 share on pipeline_refresh",
    "engine.planning_ms": "p50_ms on serve_export; about 0 share on pipeline_refresh",
    "engine.serialize_ms": "p50_ms on serve_export",
    "engine.rows": "p50_ms and pass_s on serve_export",
    "engine.repeat_share": "p50_ms on serve_export once results or plans are cached",
    "engine.self_ms": "p50_ms on serve_export",
    "sources.register_ms": "setup_s on all workloads",
    "sources.setup_builds": "setup_s on all workloads",
    "sources.builds": "none: builds inside timed blocks, 0 (a run with any fails)",
    "sources.build_s": "setup_s on all workloads",
    "sources.files_scanned": "p50_ms on serve_export, pass_s on pipeline_refresh",
    "sources.bytes_scanned": "p50_ms on serve_export, pass_s on pipeline_refresh",
    "sources.rows_examined_per_result": "p50_ms on serve_export, pass_s on pipeline_refresh",
    "sources.stored_bytes": "stored_bytes_ratio on all workloads",
    "queries.construct_ms": "pass_s on pipeline_refresh",
    "queries.materialize_ms": "pass_s on pipeline_refresh",
    "queries.self_ms": "pass_s on pipeline_refresh",
    "jobs.count": "p50_ms on serve_export (scheduling)",
    "jobs.stages": "p50_ms on serve_export (scheduling)",
    "jobs.tasks": "p50_ms on serve_export (scheduling)",
    "jobs.executor_cpu_ms": "pass_s on pipeline_refresh",
    "jobs.executor_run_ms": "pass_s on pipeline_refresh",
    "jobs.shuffle_write_bytes": "pass_s on pipeline_refresh",
    "jobs.shuffle_read_bytes": "pass_s on pipeline_refresh",
    "jobs.spill_bytes": "pass_s on pipeline_refresh",
    "jobs.output_bytes": "pass_s and stored_bytes_ratio on pipeline_refresh",
    "jobs.output_records": "pass_s and stored_bytes_ratio on pipeline_refresh",
    "jobs.result_bytes": "p50_ms on serve_export",
    "jobs.gc_ms": "p50_ms and live_heap_mb on all workloads",
    "jobs.self_ms": "p50_ms and pass_s on all workloads",
    "loadgen.lag_ms": "none: benchmark-side time per request or op outside the program",
    "trace.overhead": "none: traced over untraced p50_ms (serve) or pass_s (pipeline)",
}


class Spans:
    def __init__(self):
        self.spans = []
        self.jobs = []
        self.queries = []

    def add(self, rid, name, start, end, parent=None, **attrs):
        """Record a span; returns its index, which children pass as parent."""
        self.spans.append(dict(id=len(self.spans), rid=rid, name=name, start=start,
                               end=end, parent=parent, **attrs))
        return len(self.spans) - 1

    def add_busy(self, rid, jobs, start, end, parent):
        """Add the time Spark jobs were running inside [start, end] (epoch
        seconds) as `jobs.busy` children of `parent`; returns it in ms."""
        clipped = [(max(j["start_ms"] / 1000.0, start), min(j["end_ms"] / 1000.0, end))
                   for j in jobs]
        busy = merge([(s, e) for s, e in clipped if e > s])
        for s, e in busy:
            self.add(rid, "jobs.busy", s, e, parent=parent)
        return sum(e - s for s, e in busy) * 1000.0

    def self_times(self):
        """Self time in ms per span name, summed over all spans."""
        children = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            inside = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
            covered = sum(b - a for a, b in merge([(a, b) for a, b in inside if b > a]))
            own = (s["end"] - s["start"] - covered) * 1000.0
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path, layer_metrics):
        with open(path, "w") as fh:
            json.dump({"layer_metrics": layer_metrics, "self_ms": self.self_times(),
                       "spans": self.spans, "spark_jobs": self.jobs,
                       "spark_queries": self.queries}, fh)


def merge(pairs):
    """Overlapping (start, end) intervals merged, in order."""
    out = []
    for s, e in sorted(pairs):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(p) for p in out]
