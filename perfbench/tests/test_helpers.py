"""Tests of the benchmark's own helpers:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import types

import pytest

from perfbench.oracle import PrefixOracle, check_read
from perfbench.stats import tail_percentile
from perfbench.trace import Span, Tracer, descendants, epochs_over_wall, self_times


# ---------------------------------------------------------------- percentiles


@pytest.mark.parametrize(
    "n, p",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, p):
    values = [float(i) for i in range(n, 0, -1)]  # order must not matter
    got = tail_percentile(values)
    if p is None:
        assert got is None
        return
    q, value, count = got
    assert (q, count) == (p, n)
    assert sum(v > value for v in values) >= 10
    # value is the nearest-rank percentile of 1..n
    assert value == pytest.approx(-(-p * n // 100))


def test_tail_percentile_empty():
    assert tail_percentile([]) is None


# ---------------------------------------------------------------- self time


def span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent)


def test_self_time_counts_overlapping_children_once():
    spans = [
        span(1, 0.0, 10.0),
        span(2, 1.0, 4.0, parent=1),
        span(3, 3.0, 6.0, parent=1),    # overlaps span 2
        span(4, 9.0, 12.0, parent=1),   # runs past the parent: clipped
        span(5, 1.5, 2.0, parent=2),    # grandchild: only its parent's time
    ]
    st = self_times(spans)
    assert st[1] == pytest.approx(10.0 - (5.0 + 1.0))
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(3.0)
    assert st[5] == pytest.approx(0.5)


def test_self_times_of_sequential_tree_sum_to_root_wall():
    spans = [span(1, 0.0, 5.0), span(2, 0.5, 2.0, 1), span(3, 2.0, 4.5, 1), span(4, 2.5, 3.0, 3)]
    st = self_times(spans)
    tree = [spans[0], *descendants(spans, 1)]
    assert sum(st[s.id] for s in tree) == pytest.approx(5.0)


def trigger_tree(merge_end):
    """A listener trigger over [10, 12] and a callback-thread merge span
    with one lakette child, attached the way the traced run attaches them."""
    t = Tracer()
    t.spans = [
        Span(id=1, name="streaming.trigger", start=10.0, end=12.0, thread="listener"),
        Span(id=2, name="merge.merge_into", start=10.1, end=merge_end, thread="cb"),
        Span(id=3, name="lakette.commit_version", start=10.5, end=10.9, parent=2, thread="cb"),
    ]
    assert t.attach_orphans() == 0
    return t.spans


def test_epoch_check_passes_a_merge_inside_its_trigger():
    assert epochs_over_wall(trigger_tree(11.9), ("streaming.trigger",)) == (1, [])


def test_epoch_check_fails_a_merge_running_past_its_trigger():
    # the trigger span keeps the listener's interval: it is not widened
    spans = trigger_tree(12.5)
    assert (spans[0].start, spans[0].end) == (10.0, 12.0)
    assert epochs_over_wall(spans, ("streaming.trigger",)) == (1, [1])


def test_attach_orphans_reports_spans_outside_every_trigger():
    t = Tracer()
    t.spans = [
        Span(id=1, name="streaming.trigger", start=10.0, end=12.0, thread="listener"),
        Span(id=2, name="merge.merge_into", start=13.0, end=14.0, thread="cb"),
    ]
    assert t.attach_orphans() == 1 and t.spans[1].parent is None


# ---------------------------------------------------------------- output checks


@pytest.fixture(scope="module")
def small_log(tmp_path_factory):
    from forklift_spark.changelog import ChangelogSpec
    from perfbench.workloads import _generate

    spec = ChangelogSpec(n_events=2_000, n_repos=5, paths_per_repo=20, segment_rows=2_000,
                         duplicate_fraction=0.02, seed=5)
    return _generate(str(tmp_path_factory.mktemp("log")), spec, chunk_events=1_000)


def test_read_check_rejects_a_tampered_point_read(small_log):
    oracle = PrefixOracle(small_log.chunks)
    live = oracle.live(2)
    (repo, path), row = next(iter(live.iterrows()))
    rec = {"type": "point", "args": {"repo": repo, "path": path}, "version": 7,
           "result": [(int(row["seq"]), row["sha"])]}
    assert check_read(oracle, rec, {7: 2}) is None
    rec["result"] = [(int(row["seq"]), "0" * 64)]
    assert check_read(oracle, rec, {7: 2}) is not None
    rec["version"] = 8  # a version the run never mapped fails too
    assert check_read(oracle, rec, {7: 2}) is not None


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["FK_NO_SESSION_WARM"] = "1"
    from forklift_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cores=2, shuffle_partitions=4, driver_memory="1g",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s


def test_output_check_fails_on_one_tampered_row(spark, small_log, tmp_path):
    from forklift_spark.operators.merge import merge_into
    from forklift_spark.streaming.ingest import CHANGELOG_SCHEMA, create_entity_table
    from perfbench.workloads import LoopResult, check

    table = create_entity_table(str(tmp_path / "t"), n_buckets=4)
    merge_into(spark, table, spark.read.schema(CHANGELOG_SCHEMA).parquet(*small_log.segments),
               query_id="t", epoch=0)
    res = LoopResult(table=table, log=small_log, chunks_done=2, storage=(0, 2),
                     to_verify=[(table, small_log, 2)])
    b = types.SimpleNamespace(spark=spark)
    assert check(b, res) == []
    assert res.live_bytes > 0

    repo, path = PrefixOracle(small_log.chunks).live(2).index[0]
    tamper = spark.createDataFrame(
        [("U", 10**9, repo, path, "c", "py", "tampered", None, 1)], CHANGELOG_SCHEMA
    )
    merge_into(spark, table, tamper, query_id="t", epoch=1)
    failures = check(b, LoopResult(table=table, log=small_log, chunks_done=2,
                                   to_verify=[(table, small_log, 2)]))
    assert len(failures) == 1 and "sha_mismatch': 1" in failures[0]
