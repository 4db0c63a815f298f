"""Tests of the benchmark's own code: percentiles, span self time, the
CPU clock, the event-log parser, the output checks, and that importing
the entry point starts nothing.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import multiprocessing as mp
import sys
from pathlib import Path

import pandas as pd
import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import eventlog  # noqa: E402
import spans  # noqa: E402
from checks import TableModel, digest_pandas, digest_rows  # noqa: E402
from spans import Span, hd_quantile, percentile, self_times, union_length  # noqa: E402

FIXTURE = HERE / "fixtures" / "eventlog.jsonl"


# -- percentiles -----------------------------------------------------------


def test_median_needs_no_tail():
    assert percentile([3.0, 1.0, 2.0], 0.5) == 2.0
    assert percentile([4.0, 1.0, 3.0, 2.0], 0.5) == 2.0


def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 41))  # 40 samples: p75 has exactly ten beyond
    assert percentile(xs, 0.75) == 30
    with pytest.raises(ValueError):
        percentile(xs[:39], 0.75)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 0.9)
    assert percentile(list(range(1, 101)), 0.9) == 90


def test_percentile_rejects_empty():
    with pytest.raises(ValueError):
        percentile([], 0.5)


def test_hd_quantile_follows_the_same_sample_rule():
    xs = list(range(1, 42))
    assert hd_quantile(xs, 0.5) == pytest.approx(21.0)  # symmetric samples: the middle
    assert hd_quantile([5.0], 0.5) == 5.0
    assert 29 < hd_quantile(xs[:40], 0.75) < 32
    with pytest.raises(ValueError):
        hd_quantile(xs[:39], 0.75)


def test_hd_quantile_moves_smoothly_between_clusters():
    # 30 fast and 10 slow operations: the nearest-rank p75 sits on the
    # last fast one, and jumps to the slow cluster when two fast samples
    # turn slow; the Harrell-Davis estimate moves part of the way
    fast, slow = [1.0] * 30, [3.0] * 10
    moved = [1.0] * 28 + [3.0] * 12
    assert percentile(fast + slow, 0.75) == 1.0 and percentile(moved, 0.75) == 3.0
    a, b = hd_quantile(fast + slow, 0.75), hd_quantile(moved, 0.75)
    assert 1.0 < a < b < 3.0


# -- spans -----------------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", start, end, parent, "run")


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2.0
    assert union_length([]) == 0


def test_self_time_subtracts_covered_children_once():
    ss = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1: covered once
        _span(3, 2.0, 3.0, parent=1),
    ]
    st = self_times(ss)
    assert st[0] == pytest.approx(5.0)  # 10 - [1, 6]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_tracer_records_parents_and_hooks():
    seen = []
    tr = spans.Tracer("r", on_enter=lambda s: seen.append(("in", s.id)),
                      on_exit=lambda s: seen.append(("out", None if s is None else s.id)))
    with tr.span("outer"):
        with tr.span("inner", k=1):
            pass
    outer, inner = tr.spans
    assert inner.parent == outer.id and inner.attrs == {"k": 1}
    assert outer.start <= inner.start <= inner.end <= outer.end
    assert seen == [("in", 0), ("in", 1), ("out", 0), ("out", None)]


def test_tracer_reads_the_cpu_clock_only_around_cpu_spans():
    ticks = iter([1.0, 3.5])
    tr = spans.Tracer("r", cpu_clock=lambda: next(ticks))
    with tr.span("op", cpu=True):
        with tr.span("inner"):
            pass
    op, inner = tr.spans
    assert op.cpu == 2.5 and inner.cpu != inner.cpu  # NaN: not measured


# -- CPU clock ---------------------------------------------------------------


def _spin(seconds: float, done, leave) -> None:
    import time

    end = time.thread_time() + seconds
    while time.thread_time() < end:
        pass
    done.set()
    leave.wait()  # a skipped thread must outlive the reads


def test_cpu_clock_counts_children_and_skips_given_threads():
    import subprocess
    import threading

    import procs

    done, leave = threading.Event(), threading.Event()
    spinner = threading.Thread(target=_spin, args=(0.6, done, leave))
    spinner.start()
    clock = procs.CpuClock(skip_tids=(spinner.native_id,))
    before = clock()
    # a child that ends before the second read counts through this
    # process's reaped-children ticks
    subprocess.run([sys.executable, "-c", "import time\nend = time.process_time() + 0.5\n"
                    "while time.process_time() < end: pass"], check=True)
    done.wait()
    used = clock() - before
    leave.set()
    spinner.join()
    assert 0.4 < used < 0.9  # the child's 0.5 s and the interpreter's start, not the spinner's 0.6 s


# -- event log -------------------------------------------------------------


def test_eventlog_jobs_and_span_tags():
    log = eventlog.parse(FIXTURE)
    assert sorted(log.jobs) == [0, 1, 2, 3, 4, 5]
    assert [log.jobs[j].span for j in range(6)] == [7, 7, 7, 7, None, None]
    assert all(j.end > j.start for j in log.jobs.values())


def test_eventlog_task_metrics():
    log = eventlog.parse(FIXTURE)
    assert len(log.tasks) == 7
    t = log.tasks[1]
    assert t.stage == 1
    assert t.run_s == pytest.approx(2.082)
    assert t.cpu_s == pytest.approx(0.883, abs=1e-3)
    assert t.input_mb == pytest.approx(0.1306, abs=1e-4)
    assert all(t.stage_submit is not None and t.launch >= t.stage_submit for t in log.tasks)
    assert sum(t.shuffle_write_mb for t in log.tasks) > 0
    assert sum(t.shuffle_read_mb for t in log.tasks) > 0


def test_eventlog_python_udf_metrics():
    log = eventlog.parse(FIXTURE)
    total = {k: sum(t.python.get(k, 0.0) for t in log.tasks) for k in eventlog.PYTHON_METRICS.values()}
    assert total["boot_s"] == pytest.approx(1.093)
    assert total["init_s"] == pytest.approx(0.32 + 0.48)
    assert total["python_s"] == pytest.approx(1.783 + 0.285)
    assert total["sent_mb"] == pytest.approx(2 * 49272 / 2**20)
    assert total["received_mb"] == pytest.approx(2 * 16232 / 2**20)


# -- checks ----------------------------------------------------------------


def test_digest_ignores_row_and_column_order_and_float_noise():
    a = pd.DataFrame({"k": [1, 2], "v": [0.1 + 0.2, 1.0]})
    b = pd.DataFrame({"v": [1.0, 0.3], "k": [2, 1]})
    assert digest_pandas(a) == digest_pandas(b)
    c = pd.DataFrame({"k": [1, 2], "v": [0.3, 1.5]})
    assert digest_pandas(a) != digest_pandas(c)


def test_digest_tags_types():
    assert digest_rows(["x"], [(1,)]) != digest_rows(["x"], [(1.0,)])


def test_table_model_merge_delete_lookup_slice():
    m = TableModel("key")
    m.merge(pd.DataFrame({"key": [1, 2, 3], "value": [1.0, 2.0, 3.0]}))
    m.merge(pd.DataFrame({"key": [2, 4], "value": [20.0, 4.0]}))
    m.delete([3])
    assert m.lookup(2) == [(2, 20.0)]
    assert m.lookup(3) == []
    assert m.slice(1, 3, "value") == (2, 21.0)
    assert m.digest() == (3, digest_rows(["key", "value"], [(1, 1.0), (2, 20.0), (4, 4.0)]))


# -- import safety -----------------------------------------------------------


def _import_entry(q):
    """Runs in a spawned interpreter: load the entry script the way a
    spawn worker loads its parent's main module (as ``__mp_main__``), then
    report whether a Spark session or any child process started."""
    import os
    import runpy

    sys.path.insert(0, str(HERE.parent))
    runpy.run_path(str(HERE.parent / "run.py"), run_name="__mp_main__")
    import procs
    from pyspark import SparkContext

    q.put((SparkContext._active_spark_context is None, sorted(procs.descendants(os.getpid()).values())))


def test_entry_import_under_spawn_starts_no_session():
    ctx = mp.get_context("spawn")
    q = ctx.Queue()
    p = ctx.Process(target=_import_entry, args=(q,))
    p.start()
    try:
        no_session, children = q.get(timeout=120)
    finally:
        p.join(timeout=60)
    assert not p.is_alive()
    assert p.exitcode == 0
    assert no_session
    assert "java" not in children


# -- BENCHMARK.json --------------------------------------------------------


def test_metric_lists_match_benchmark_json():
    import json

    import metrics

    spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
    for key, names in (("end_to_end", metrics.END_TO_END), ("per_layer", metrics.PER_LAYER)):
        assert {m["name"]: m["unit"] for m in spec[key]} == names


def test_loop_lengths_depend_on_seconds_only():
    from workloads import IngestWorkload, QueryWorkload

    assert [IngestWorkload.n_ticks(s) for s in (1, 10, 11, 20)] == [4, 4, 5, 8]
    assert [QueryWorkload.n_rounds(s) for s in (1, 10, 11, 20)] == [4, 4, 5, 8]


def test_tick_stream_updates_and_deletes_recent_keys(tmp_path):
    import json

    import datagen

    docs = tmp_path / "documents.parquet"
    pd.DataFrame({"text": [f"doc {i} " + "word " * (i % 7) for i in range(400)]}).to_parquet(docs)
    datagen.write_ticks(tmp_path / "ticks", docs, seed=5)
    plan = json.loads((tmp_path / "ticks" / "plan.json").read_text())["ticks"]
    init_max = int(pd.read_parquet(tmp_path / "ticks" / "events_init.parquet")["key"].max())
    inserted = []  # keys each tick inserted
    for t, p in enumerate(plan[:8]):
        keys = pd.read_parquet(tmp_path / "ticks" / f"events_{t:04d}.parquet")["key"]
        old = keys[keys <= max([init_max, *(k.max() for k in inserted)])]
        recent = set().union(*(set(k) for k in inserted[-datagen.UPDATE_WINDOW:]))
        assert len(old) == (0 if t == 0 else round(datagen.BATCH_ROWS * datagen.UPDATE_SHARE))
        assert set(old) <= recent  # updates touch only the recent window ...
        assert len(p["delete"]) == datagen.DELETE_KEYS
        assert set(p["delete"]) <= recent | set(keys)  # ... and so do deletes
        assert min(p["delete"]) > init_max
        assert len(p["lookups"]) == datagen.LOOKUPS
        inserted.append(keys[keys > max([init_max, *(k.max() for k in inserted)])])
