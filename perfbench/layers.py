"""Per-layer metrics of a traced run, from its spans, Spark's event log and
the streaming query progress. Counts and seconds are per traced pass, so
runs with different pass counts compare; README.md maps each metric to the
end-to-end metric it should move."""

from __future__ import annotations

import statistics

from spans import ancestors, covered, link, self_time

# the span that owns each layer; every other span (driver actions, parquet
# writes, sink reads) belongs to the layer of its nearest owning ancestor
LAYER_OF = {
    "get_spark": "session",
    "tables.load_table": "feed",
    "fixtures.cdc_events": "feed",
    "SnapshotStream.next_page": "snapshot",
    "MicroBatcher.run_once": "poll",
    "PipelineRun.run": "commit",
    "TransactionalDirSink.commit_batch": "commit",
    "foreach_batch_writer": "commit",
    "TransactionalDirSink.compact": "compact",
    "__main__.main": "cli",
    "stream.start": "stream",
    "stream.drain": "stream",
    "stream.stop": "stream",
}
DRIVER_ACTIONS = ("DataFrame.collect", "DataFrame.count", "DataFrame.isEmpty")
PROGRESS_KEYS = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _p50(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _p50(xs)


def _layer(span, by_id) -> str | None:
    for a in ancestors(span, by_id):
        if a.name in LAYER_OF:
            return LAYER_OF[a.name]
    return None


def layer_metrics(all_spans, jobs, traced, untraced, first, noise, retained_mb, error_rate):
    by_id = link(all_spans)
    n = max(1, len(traced))
    windows = [(p.t0, p.t1) for p in traced]

    def in_pass(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    spans = [s for s in all_spans if in_pass(s.t0)]
    named = {}
    for s in spans:
        named.setdefault(s.name, []).append(s)

    def innermost(t: float):
        inside = [s for s in spans if s.t0 <= t <= s.t1]
        return max(inside, key=lambda s: s.t0) if inside else None

    pass_jobs = [j for j in jobs if in_pass(j.submitted)]
    owner = {
        j.id: by_id.get(j.span) if j.span is not None else innermost(j.submitted)
        for j in pass_jobs
    }
    job_layer = {
        j.id: _layer(owner[j.id], by_id) if owner[j.id] else None for j in pass_jobs
    }

    def jobs_of(layer):
        return [j for j in pass_jobs if job_layer[j.id] == layer]

    def jobs_under(name):
        return [
            j for j in pass_jobs
            if owner[j.id] and any(a.name == name for a in ancestors(owner[j.id], by_id))
        ]

    def total(js, key):
        return sum(j.metrics.get(key, 0.0) for j in js)

    def under(name, span_name):
        """Spans called ``name`` whose parent is a ``span_name`` span."""
        return [
            s for s in named.get(name, [])
            if s.parent is not None and by_id[s.parent].name == span_name
        ]

    pages = [s for s in named.get("SnapshotStream.next_page", []) if s.produced]
    polls = named.get("MicroBatcher.run_once", [])
    commits = named.get("TransactionalDirSink.commit_batch", [])
    committed = [s for s in commits if s.produced]
    rows = sum(p.rows for p in traced)
    # the CLI's one unified write is its only commit
    batches = len(committed) or len(named.get("__main__.main", []))
    compact_jobs = jobs_of("compact")
    drain_jobs = [j for j in pass_jobs if job_layer[j.id] != "compact"]

    progress = [
        b for p in traced for b in p.progress if b.get("numInputRows", 0) > 0
    ]
    intervals = [x for p in untraced or traced for x in p.commit_intervals_ms()]
    traced_wall = sum(p.wall_s for p in traced)
    untraced_p50 = _p50([p.wall_s for p in untraced])
    input_rows = total(pass_jobs, "input_rows")
    session = [s for s in all_spans if s.name == "get_spark"]

    plain = [p for p in untraced if not p.error] or [p for p in traced if not p.error]
    m = {
        "session.start_s": (session[0].dur if session else 0.0, "s"),
        "first_pass_s": (first.wall_s, "s"),
        "pass.rows_per_s": (_p50([p.rows / p.wall_s for p in plain]), "rows/s"),
        "pass.commit_interval_ms": (_p50([p.mean_commit_interval_ms() for p in plain]), "ms"),
        "pass.jit_cpu_s": (_p50([p.jit_s for p in plain]), "s/pass"),
        "pass.cpu_ms_per_krow": (_p50([p.cpu_ms_per_krow() for p in plain]), "ms"),
        "pass.sentinel_cpu_s": (_p50([p.sentinel_s for p in plain]), "s"),
        "snapshot.pages": (len(pages) / n, "pages/pass"),
        "snapshot.page_p50_ms": (_p50([s.dur * 1e3 for s in pages]), "ms"),
        "snapshot.self_s": (sum(self_time(s) for s in named.get("SnapshotStream.next_page", [])) / n, "s/pass"),
        "snapshot.jobs": (len(jobs_of("snapshot")) / n, "jobs/pass"),
        "snapshot.rows_scanned": (total(jobs_of("snapshot"), "input_rows") / n, "rows/pass"),
        "poll.triggers": (len(polls) / n, "triggers/pass"),
        "poll.p50_ms": (_p50([s.dur * 1e3 for s in polls]), "ms"),
        "poll.self_s": (sum(self_time(s) for s in polls) / n, "s/pass"),
        "poll.jobs": (len(jobs_of("poll")) / n, "jobs/pass"),
        "poll.rows_scanned": (total(jobs_of("poll"), "input_rows") / n, "rows/pass"),
        "commit.count": (len(committed) / n, "commits/pass"),
        "commit.noop": (len(commits) - len(committed), "count"),
        "commit.write_p50_ms": (_p50([s.dur * 1e3 for s in under("DataFrameWriter.parquet", "TransactionalDirSink.commit_batch")]), "ms"),
        "commit.manifest_p50_ms": (_p50([self_time(s) * 1e3 for s in committed]), "ms"),
        "commit.jobs_per_batch": (len(drain_jobs) / batches if batches else 0.0, "jobs/commit"),
        "commit.files": (sum(p.files for p in traced) / n, "files/pass"),
        "commit.mb_written": (sum(p.mb for p in traced) / n, "MB/pass"),
        "commit.p50_ms": (_p50(intervals), "ms"),
        "commit.p90_ms": (_p90(intervals), "ms"),
        "commit.samples": (len(intervals), "count"),
        "compact.wall_s": (_p50([p.compact_s for p in traced if p.compact_s is not None]), "s"),
        "compact.rows_in": (sum(p.rows for p in traced if p.compact_s is not None) / n, "rows/pass"),
        "compact.rows_out": (sum(p.compact_rows or 0 for p in traced) / n, "rows/pass"),
        "compact.files_read": (sum(p.files for p in traced if p.compact_s is not None) / n, "files/pass"),
        "compact.shuffle_mb": (total(compact_jobs, "shuffle_write_mb") / n, "MB/pass"),
        "compact.jobs": (len(compact_jobs) / n, "jobs/pass"),
        "cli.write_s": (sum(s.dur for s in under("DataFrameWriter.parquet", "__main__.main")) / n, "s/pass"),
        "cli.recount_s": (sum(s.dur for s in under("DataFrame.count", "__main__.main")) / n, "s/pass"),
        "cli.persisted_rdds": (_p50([p.persisted_rdds for p in traced + untraced]), "rdds/pass"),
        "cache.retained_mb": (retained_mb, "MB"),
        "stream.batches": (len(progress) / n, "batches/pass"),
        **{
            f"stream.{k}_ms": (_p50([b["durationMs"].get(k, 0) for b in progress]), "ms")
            for k in PROGRESS_KEYS
        },
        "stream.source_scans_per_batch": (
            len(jobs_under("foreach_batch_writer")) / len(progress)
            if progress else 0.0, "scans/batch",
        ),
        "spark.jobs": (len(pass_jobs) / n, "jobs/pass"),
        "spark.jobs_per_batch": (len(pass_jobs) / batches if batches else 0.0, "jobs/commit"),
        "spark.stages": (total(pass_jobs, "stages") / n, "stages/pass"),
        "spark.tasks": (total(pass_jobs, "tasks") / n, "tasks/pass"),
        "spark.driver_collects": (sum(len(named.get(a, [])) for a in DRIVER_ACTIONS) / n, "calls/pass"),
        "spark.executor_run_s": (total(pass_jobs, "executor_run_s") / n, "s/pass"),
        "spark.executor_cpu_s": (total(pass_jobs, "executor_cpu_s") / n, "s/pass"),
        "spark.gc_s": (total(pass_jobs, "gc_s") / n, "s/pass"),
        "spark.shuffle_write_mb": (total(pass_jobs, "shuffle_write_mb") / n, "MB/pass"),
        "spark.shuffle_read_mb": (total(pass_jobs, "shuffle_read_mb") / n, "MB/pass"),
        "spark.spill_mb": (total(pass_jobs, "spill_mb") / n, "MB/pass"),
        "spark.input_rows": (input_rows / n, "rows/pass"),
        "spark.read_amplification": (input_rows / rows if rows else 0.0, "ratio"),
        "host.steal_s": (noise["steal_s"], "s"),
        "host.iowait_s": (noise["iowait_s"], "s"),
        "host.cpu_s": (noise["busy_cpu_s"], "s"),
        "host.load_start": (noise["load_start"], "load"),
        "trace.overhead_pct": (
            (_p50([p.wall_s for p in traced]) / untraced_p50 - 1) * 100
            if untraced_p50 else 0.0, "%",
        ),
        "trace.attributed_pct": (
            sum(covered(spans, p.t0, p.t1) for p in traced) / traced_wall * 100
            if traced_wall else 0.0, "%",
        ),
        "error_rate": (error_rate, "ratio"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

