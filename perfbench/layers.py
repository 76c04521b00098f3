"""The traced run: spans around the program's layer functions, and the
per-layer metrics computed from them.

The untraced measurement runs first; the traced one repeats it with
wrappers installed, so tracing overhead is the traced minus the untraced
time of the same operation in the same process. In the traced ETL each
layer's output is materialised at its boundary (persist + count), so a
layer's span holds that layer's Spark work rather than a lazy plan.
"""

from __future__ import annotations

import os

import workloads as W
from stats import self_times
from tracing import Tracer, count_codegen_fallbacks

# name -> unit, every per-layer metric a traced run reports; a layer a
# workload never calls reports 0
PER_LAYER = {
    "access_log.s": "s",
    "access_log.lines": "count",
    "access_log.drop_frac": "ratio",
    "filters.robots.s": "s",
    "filters.robots.drop_frac": "ratio",
    "filters.repeat.s": "s",
    "filters.repeat.drop_frac": "ratio",
    "processors.s": "s",
    "processors.fact_rows": "count",
    "processors.jobs": "count",
    "sets.s": "s",
    "sets.dim_rows": "count",
    "storage.write_s": "s",
    "storage.files": "count",
    "storage.bytes": "B",
    "storage.replay_s": "s",
    "storage.replay_bytes_per_input_byte": "ratio",
    "stream.batch_s": "s",
    "stream.rows_in": "count",
    "stream.jobs_per_batch": "count",
    "http.parse_ms": "ms",
    "plan.build_ms": "ms",
    "plan.jobs_per_req": "count",
    "exec.collect_ms": "ms",
    "exec.jobs_per_req": "count",
    "exec.tasks_per_req": "count",
    "exec.failed_tasks": "count",
    "exec.codegen_fallbacks": "count",
    "export.serialize_ms": "ms",
    "export.bytes_out": "B",
    "cache.hit_ratio": "ratio",
    "cache.lookups": "count",
    "cache.get_ms": "ms",
    "cache.put_ms": "ms",
    "cache.prewarm_s": "s",
    "trace.overhead_s": "s",
    "trace.overhead_req_ms": "ms",
}

_PROCESSORS = (
    "downloads", "views", "doc_downloads", "browsers", "referrer", "search_terms",
    "deposits", "doc_access", "doc_format", "lifetime_cache",
)


class _Counts:
    """Row counts and bytes recorded by the wrappers, keyed by span id."""

    def __init__(self):
        self.rows: dict[int, int] = {}
        self.bytes: dict[int, int] = {}
        self.hits = self.misses = 0

    def materialize(self, df, args, kwargs, sid):
        df = df.persist()
        self.rows[sid] = df.count()
        return df

    def materialize_dims(self, dims, args, kwargs, sid):
        out = {}
        n = 0
        for k, df in dims.items():
            if df is not None:
                df = df.persist()
                n += df.count()
            out[k] = df
        self.rows[sid] = n
        return out

    def text_bytes(self, text, args, kwargs, sid):
        self.bytes[sid] = len(text.encode("utf-8"))
        return text

    def cache_get(self, hit, args, kwargs, sid):
        if hit is None:
            self.misses += 1
        else:
            self.hits += 1
        return hit

    def replay_bytes(self, path, args, kwargs, sid):
        from_date = args[4] if len(args) > 4 else kwargs["from_date"]
        n = 0
        for part in os.listdir(path):
            if part.startswith("datestamp=") and int(part.split("=", 1)[1]) >= from_date:
                for dirpath, _, names in os.walk(os.path.join(path, part)):
                    n += sum(os.path.getsize(os.path.join(dirpath, f)) for f in names if f.endswith(".parquet"))
        self.bytes[sid] = n
        return path


def install(tracer: Tracer, counts: _Counts, spark) -> None:
    from irstats2_spark.etl import pipeline, processors, sets
    from irstats2_spark.plans import http, report, views
    from irstats2_spark.sources import access_log, export, storage

    w = tracer.wrap
    w(access_log, "read_access_logs", "access_log", True, counts.materialize)
    w(pipeline, "robots_filter", "filters.robots", True, counts.materialize)
    w(pipeline, "repeat_filter", "filters.repeat", True, counts.materialize)
    for name in _PROCESSORS:
        w(processors, name, "processors", True, counts.materialize)
    w(sets, "build_dimensions", "sets", True, counts.materialize_dims)
    w(storage, "write_fact", "storage.write", True)
    w(storage, "replay_from_date", "storage.replay", False, counts.replay_bytes)
    w(report, "prewarm_report", "cache.prewarm", True)
    w(report.ResultCache, "get", "cache.get", False, counts.cache_get)
    w(report.ResultCache, "put", "cache.put")
    w(http, "context_from_request", "http.parse")
    for owner in (http, views):
        w(owner, "compile_context", "plan.build", True)
    w(views, "graph_series", "plan.build", True)
    w(views, "sparkline_series", "plan.build", True)
    w(type(spark.range(1)), "collect", "exec.collect", True)
    for fmt in ("to_csv", "to_json", "to_xml"):
        w(export, fmt, "export.serialize", False, counts.text_bytes)


def traced_measure(run: W.Run, wl: W.Workload, base: dict) -> dict[str, tuple[float, str]]:
    """Measure ``wl`` again with tracing on; return the per-layer metrics
    as name -> (value, unit)."""
    tracer = Tracer(run.spark)
    counts = _Counts()
    log_offset = os.path.getsize(run.log_path)
    batches_before = len(wl.sd.batches) if hasattr(wl, "sd") else 0
    warm_s = wl.warm_etl_s(base)
    run.tracer = tracer
    install(tracer, counts, run.spark)
    try:
        traced = wl.measure(**wl.traced_args)
    finally:
        tracer.restore()
        run.tracer = None
    jobs = tracer.job_stats()
    spans = {s.id: s for s in tracer.spans}
    own = self_times(tracer.spans)

    def under(s, name):
        p = s.parent
        while p is not None:
            if spans[p].name == name:
                return True
            p = spans[p].parent
        return False

    def by(name):
        return [s for s in tracer.spans if s.name == name]

    def self_s(name):
        return sum(own[s.id] for s in by(name))

    def job_sum(ss, key="jobs"):
        return sum(jobs.get(s.id, {}).get(key, 0) for s in ss)

    m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
    # ETL layers
    lines = wl.lines if by("access_log") else 0
    parsed = sum(counts.rows.get(s.id, 0) for s in by("access_log"))
    robots_out = sum(counts.rows.get(s.id, 0) for s in by("filters.robots"))
    repeat_out = sum(counts.rows.get(s.id, 0) for s in by("filters.repeat"))
    m["access_log.s"] = self_s("access_log")
    m["access_log.lines"] = lines
    m["access_log.drop_frac"] = 1 - parsed / lines if lines else 0.0
    m["filters.robots.s"] = self_s("filters.robots")
    m["filters.robots.drop_frac"] = 1 - robots_out / parsed if parsed else 0.0
    m["filters.repeat.s"] = self_s("filters.repeat")
    m["filters.repeat.drop_frac"] = 1 - repeat_out / robots_out if robots_out else 0.0
    m["processors.s"] = self_s("processors")
    m["processors.fact_rows"] = sum(counts.rows.get(s.id, 0) for s in by("processors"))
    m["processors.jobs"] = job_sum(by("processors"))
    m["sets.s"] = self_s("sets")
    m["sets.dim_rows"] = sum(counts.rows.get(s.id, 0) for s in by("sets"))
    m["storage.write_s"] = self_s("storage.write")
    written = wl.gold if by("access_log") else getattr(getattr(wl, "sd", None), "out", None)
    if written and os.path.isdir(written):
        m["storage.files"], m["storage.bytes"] = W.gold_bytes(written)
    m["cache.prewarm_s"] = sum(s.dur for s in by("cache.prewarm"))
    # stream
    batches = wl.sd.batches[batches_before:] if hasattr(wl, "sd") else []
    if batches:
        tracker = run.spark.sparkContext.statusTracker()
        m["stream.batch_s"] = sum(s.dur for s in by("stream.batch")) / len(batches)
        m["stream.rows_in"] = sum(b["rows"] for b in batches)
        # the stream's own jobs carry its run id as job group; jobs of
        # layer spans its sink called carry the spans' groups
        sink_spans = [s for s in tracer.spans if s.parent is None and s.name != "stream.batch"
                      and any(b.start <= s.start and s.end <= b.end for b in by("stream.batch"))]
        m["stream.jobs_per_batch"] = (
            sum(len(tracker.getJobIdsForGroup(b["run_id"])) for b in batches) + job_sum(sink_spans)
        ) / len(batches)
        m["storage.replay_s"] = self_s("storage.replay")
        landed = sum(b["landed_bytes"] for b in batches)
        m["storage.replay_bytes_per_input_byte"] = sum(counts.bytes.get(s.id, 0) for s in by("storage.replay")) / landed
    # requests
    reqs = by("request")
    n = len(reqs)
    if n:
        plans = [s for s in by("plan.build") if s.req and not under(s, "plan.build")]
        plan_inner = [s for s in tracer.spans if s.req and under(s, "plan.build")]
        execs = [s for s in by("exec.collect") if s.req and not under(s, "plan.build")]
        m["http.parse_ms"] = 1000 * sum(s.dur for s in by("http.parse") if s.req) / n
        m["plan.build_ms"] = 1000 * sum(s.dur for s in plans) / n
        m["plan.jobs_per_req"] = (job_sum(plans) + job_sum(plan_inner)) / n
        m["exec.collect_ms"] = 1000 * sum(s.dur for s in execs) / n
        m["exec.jobs_per_req"] = (job_sum(execs) + job_sum(reqs)) / n
        m["exec.tasks_per_req"] = (job_sum(execs, "tasks") + job_sum(reqs, "tasks")) / n
        exports = [s for s in by("export.serialize") if s.req]
        if exports:
            m["export.serialize_ms"] = 1000 * sum(own[s.id] for s in exports) / len(exports)
            m["export.bytes_out"] = sum(counts.bytes.get(s.id, 0) for s in exports)
    m["exec.failed_tasks"] = sum(v["failed_tasks"] for v in jobs.values())
    m["exec.codegen_fallbacks"] = count_codegen_fallbacks(run.log_path, log_offset)
    lookups = counts.hits + counts.misses
    m["cache.lookups"] = lookups
    m["cache.hit_ratio"] = counts.hits / lookups if lookups else 0.0
    gets, puts = by("cache.get"), by("cache.put")
    m["cache.get_ms"] = 1000 * sum(s.dur for s in gets) / len(gets) if gets else 0.0
    m["cache.put_ms"] = 1000 * sum(s.dur for s in puts) / len(puts) if puts else 0.0
    # tracing overhead on the same operation, same process
    m["trace.overhead_s"] = traced["etl_s"] - warm_s
    m["trace.overhead_req_ms"] = traced["req_p50_ms"] - base["req_p50_ms"]
    run.info["traced_end_to_end"] = traced
    return {k: (float(v), PER_LAYER[k]) for k, v in m.items()}
