"""Turn a finished run's spans, event log and process samples into the
end-to-end and per-layer metrics.

A *pass* is one round over a query workload's query list, or one tick of
``txtable_ingest``; per-pass figures divide the timed loop's totals by
the number of passes it ran.
"""

from __future__ import annotations

import json
import math
from pathlib import Path

import eventlog
from statistics import median

from spans import hd_quantile, self_times, union_length

END_TO_END = {
    "setup_s": "s",
    "pass_cpu_s": "s",
    "op_cpu_p50_s": "s",
    "op_cpu_p75_s": "s",
    "peak_mem_mb": "MB",
    "stored_bytes_per_input_byte": "B/B",
}

ARTIFACTS = ("bucketed_tables",)

PER_LAYER = {
    "session.start_s": "s",
    "artifacts.build_s": "s",
    **{f"artifacts.{a}_s": "s" for a in ARTIFACTS},
    "queries.construct_s": "s",
    "queries.construct_jobs": "count",
    "queries.construct_job_s": "s",
    "queries.construct_driver_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.job_s": "s",
    "exec.driver_gap_s": "s",
    "executor.tasks": "count",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.queue_s": "s",
    "executor.busy_ratio": "ratio",
    "executor.input_mb": "MB",
    "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB",
    "udf.python_s": "s",
    "udf.boot_s": "s",
    "udf.init_s": "s",
    "udf.sent_mb": "MB",
    "udf.received_mb": "MB",
    "txstore.append_s": "s",
    "txstore.merge_s": "s",
    "txstore.delete_s": "s",
    "txstore.optimize_s": "s",
    "txstore.vacuum_s": "s",
    "txstore.lookup_s": "s",
    "txstore.slice_s": "s",
    "txstore.jobs_per_commit": "count",
    "txstore.dirs_per_lookup": "count",
    "txstore.dirs": "count",
    "txstore.manifest_kb": "KiB",
    "txstore.written_bytes_per_user_byte": "B/B",
    "streaming.batch_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.dup_drop_ratio": "ratio",
    "procs.peak_python": "count",
    "procs.jvm_rss_mb": "MB",
    "procs.python_rss_mb": "MB",
    "procs.java_heap_mb": "MB",
    "procs.live_heap_mb": "MB",
    "jvm.jit_cpu_s": "s",
}


def _durs(spans) -> list[float]:
    return [s.dur for s in spans]


def _med(xs, default=0.0) -> float:
    return median(xs) if xs else default


def compute(wl, ctx, *, setup_s: float, peak: dict, live_heap_mb: float, jit_cpu_s: float,
            eventlog_dir: Path | None, context: dict) -> dict:
    tr = ctx.tracer
    m: dict[str, float] = {k: 0.0 for k in (*END_TO_END, *PER_LAYER)}
    notes: dict = {"context": context, "failures": ctx.failures[:50]}
    (pass_span,) = tr.named("pass")

    m["setup_s"] = setup_s
    m["peak_mem_mb"] = peak.get("outside_heap_mb", 0.0) + live_heap_mb
    notes["peak_rss_mb"] = peak.get("total_mb", 0.0)
    m["procs.peak_python"] = peak.get("n_python", 0.0)
    m["procs.jvm_rss_mb"] = peak.get("jvm_mb", 0.0)
    m["procs.python_rss_mb"] = peak.get("python_mb", 0.0) + peak.get("main_mb", 0.0)
    m["procs.java_heap_mb"] = peak.get("java_heap_mb", 0.0)
    m["procs.live_heap_mb"] = live_heap_mb
    m["session.start_s"] = tr.named("session.start")[0].dur
    for s in tr.named("artifacts.build"):
        m["artifacts.build_s"] += s.dur
        m[f"artifacts.{s.attrs['artifact']}_s"] = s.dur

    if hasattr(wl, "queries"):
        ops = [s for s in tr.named("query") if not s.attrs.get("failed")]
        n_pass = max(1, len(tr.named("query")) / len(wl.queries))
        kind = lambda s: s.attrs["query"]  # noqa: E731
    else:
        ops = wl.samples(ctx)
        n_pass = max(1, len(tr.named("tick")))
        kind = lambda s: s.name  # noqa: E731
    per_kind: dict[str, list] = {}
    for s in ops:
        per_kind.setdefault(kind(s), []).append(s)

    def typical_pass(value) -> float:
        """Each kind of operation's median ``value`` times how often a pass
        runs it, summed over the kinds."""
        return sum(_med([value(s) for s in v]) * len(v) / n_pass for v in per_kind.values())

    m["pass_cpu_s"] = typical_pass(lambda s: s.cpu)
    notes["pass_s"] = typical_pass(lambda s: s.dur)
    notes["per_kind_median"] = {k: {"s": _med(_durs(v)), "cpu_s": _med([s.cpu for s in v])}
                                for k, v in sorted(per_kind.items())}
    m["stored_bytes_per_input_byte"] = wl.stored_bytes / wl.user_bytes
    for q, name in ((0.5, "op_cpu_p50_s"), (0.75, "op_cpu_p75_s")):
        try:
            m[name] = hd_quantile([s.cpu for s in ops], q)
            notes[name.replace("_cpu", "")] = hd_quantile(_durs(ops), q)
        except ValueError as ex:  # too few successful operations: the run is not valid
            ctx.fail(f"{name}: {ex}")
            m[name] = max((s.cpu for s in ops), default=0.0)
    notes["op_samples"] = len(ops)
    notes["passes"] = n_pass
    m["jvm.jit_cpu_s"] = jit_cpu_s / n_pass

    # span layers, per pass
    construct = tr.named("queries.construct")
    execs = tr.named("exec")
    m["queries.construct_s"] = sum(_durs(construct)) / n_pass
    m["exec.s"] = sum(_durs(execs)) / n_pass
    selft = self_times(tr.spans)
    notes["pass_wall_s"] = pass_span.dur
    notes["pass_self_s"] = selft[pass_span.id]

    if not hasattr(wl, "queries"):
        def med_named(name):  # median over the timed loop and the steps after it
            return _med([s.dur for s in tr.named(name) if s.start >= pass_span.start])

        m["txstore.append_s"] = tr.named("txstore.append")[0].dur
        m["txstore.merge_s"] = med_named("txstore.merge")
        m["txstore.delete_s"] = med_named("txstore.delete")
        m["txstore.optimize_s"] = med_named("txstore.optimize")
        m["txstore.vacuum_s"] = med_named("txstore.vacuum")
        m["txstore.lookup_s"] = med_named("txstore.lookup")
        m["txstore.slice_s"] = med_named("txstore.slice")
        m["streaming.batch_s"] = med_named("streaming.batch")
        m["txstore.dirs"] = float(wl.n_dirs)
        m["txstore.manifest_kb"] = wl.manifest_kb
        m["txstore.written_bytes_per_user_byte"] = wl.written_bytes / wl.user_bytes
        m["streaming.dup_drop_ratio"] = wl.dropped / max(1, len(wl.planted))
        dirs = [s.attrs["dirs"] for s in tr.named("txstore.lookup")
                if "dirs" in s.attrs and s.start >= pass_span.start]
        m["txstore.dirs_per_lookup"] = sum(dirs) / len(dirs) if dirs else 0.0
        notes["rows_committed"] = wl.rows_committed
        notes["ingest_rows_per_s"] = wl.rows_committed / pass_span.dur

    if eventlog_dir is not None:
        files = sorted(p for p in eventlog_dir.iterdir() if p.is_file())
        if files:
            _layer_from_eventlog(m, notes, eventlog.parse(files[-1]), tr, pass_span, n_pass,
                                 int(context["default_parallelism"]))

    return {"workload": wl.name, "metrics": m, "notes": notes}


def _layer_from_eventlog(m, notes, log, tr, pass_span, n_pass, cores) -> None:
    # a job belongs to the innermost span it was tagged with; a job fired
    # from an engine thread carries no tag and goes to the innermost span
    # open when it was submitted
    by_span: dict[int, list] = {}
    for job in log.jobs.values():
        sid = job.span
        if sid is None:
            inner = [s for s in tr.spans if s.start <= job.start <= s.end]
            sid = max(inner, key=lambda s: s.start).id if inner else None
        if sid is not None:
            by_span.setdefault(sid, []).append(job)
    kids: dict[int, list[int]] = {}
    for s in tr.spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)

    def subtree_jobs(sid: int) -> list:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out += by_span.get(cur, [])
            todo += kids.get(cur, [])
        return out

    def job_split(spans):
        """(jobs, seconds covered by jobs) summed over ``spans``."""
        n = t = 0.0
        for s in spans:
            jobs = subtree_jobs(s.id)
            n += len(jobs)
            t += union_length([(j.start, s.end if math.isnan(j.end) else j.end) for j in jobs],
                              s.start, s.end)
        return n, t

    n, t = job_split(tr.named("queries.construct"))
    m["queries.construct_jobs"] = n / n_pass
    m["queries.construct_job_s"] = t / n_pass
    m["queries.construct_driver_s"] = m["queries.construct_s"] - t / n_pass
    n, t = job_split(tr.named("exec"))
    m["exec.jobs"] = n / n_pass
    m["exec.job_s"] = t / n_pass
    m["exec.driver_gap_s"] = m["exec.s"] - t / n_pass

    in_pass = lambda name: [s for s in tr.named(name) if s.start >= pass_span.start]  # noqa: E731
    commits = in_pass("txstore.merge") + in_pass("txstore.delete")
    if commits:
        m["txstore.jobs_per_commit"] = job_split(commits)[0] / len(commits)
    batches = in_pass("streaming.batch")
    if batches:
        m["streaming.jobs_per_batch"] = job_split(batches)[0] / len(batches)

    tasks = [t for t in log.tasks if pass_span.start <= t.launch <= pass_span.end]
    m["executor.tasks"] = len(tasks) / n_pass
    for key in ("run_s", "cpu_s", "gc_s", "input_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb"):
        m[f"executor.{key}"] = sum(getattr(t, key) for t in tasks) / n_pass
    queued = [t.launch - t.stage_submit for t in tasks if t.stage_submit is not None]
    m["executor.queue_s"] = sum(queued) / len(queued) if queued else 0.0
    m["executor.busy_ratio"] = sum(t.run_s for t in tasks) / (pass_span.dur * cores)
    for key in eventlog.PYTHON_METRICS.values():
        m[f"udf.{key}"] = sum(t.python.get(key, 0.0) for t in tasks) / n_pass
    notes["eventlog_jobs"] = len(log.jobs)
    notes["untagged_jobs"] = sum(1 for j in log.jobs.values() if j.span is None)


def print_report(report: dict, out) -> None:
    notes = report["notes"]
    print(f"# workload {report['workload']}: context {json.dumps(notes['context'])}", file=out)
    for k, v in report["metrics"].items():
        unit = END_TO_END.get(k) or PER_LAYER.get(k)
        print(f"#   {k:40s} {v:14.6f} {unit}", file=out)
    for k, v in notes.items():
        if k not in ("context", "per_kind_median", "failures"):
            print(f"#   note {k}: {v}", file=out)
    failures = notes["failures"]
    print(f"# failures: {len(failures)}" + "".join(f"\n#   {f}" for f in failures), file=out)
