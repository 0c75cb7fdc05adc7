"""Tests of the benchmark's own helpers: lookup F1, the event-log parser,
span self-time arithmetic and the pair sample.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import pytest

from checks import lookup_prf, membership_error, sample_labeled_pairs
from tracing import Span, Tracer, event_log_files, module_counters, read_event_log, self_times

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _span(i, name, start, end, parent=None):
    return Span(i, name, start, end, parent, "r")


# --- lookup F1 -------------------------------------------------------------


def _imperfect_assignment(golds) -> list[tuple[str, str]]:
    """Gold clustering with seeded mistakes: two entities merged, every
    fifth mention split off, NIL mentions singletons."""
    rows = []
    for i, (mid, labels) in enumerate(sorted(golds)):
        real = sorted(x for x in labels if x != "-1")
        if not real or i % 5 == 0:
            rows.append((mid, mid))
        else:
            cid = real[0]
            rows.append((mid, "E00001" if cid == "E00002" else cid))
    return rows


def test_lookup_f1_equals_pairwise_prf(spark):
    from mix_blink_spark.fixtures import corpus_dfs
    from mix_blink_spark.operators.metrics import cluster_pairs, pairwise_prf

    _, _, golds, labeled = corpus_dfs(spark, seed=42, n_pages=200, n_entities=20)
    gold_rows = [(r["mention_id"], list(r["labels"])) for r in golds.collect()]
    assign = _imperfect_assignment(gold_rows)
    pairs = [(r["mention_a"], r["mention_b"], r["is_match"]) for r in labeled.collect()]

    want = pairwise_prf(
        cluster_pairs(spark.createDataFrame(assign, "member string, cluster_id string")), labeled
    )
    got = lookup_prf(pairs, dict(assign))
    assert (got["tp"], got["fp"], got["fn"]) == (want["tp"], want["fp"], want["fn"])
    assert got["f1"] == pytest.approx(want["f1"])
    assert 0.5 < got["f1"] < 1.0  # the seeded mistakes are visible


def test_lookup_f1_ignores_unassigned_mentions():
    pairs = [("a", "b", True), ("a", "c", False), ("b", "d", True)]
    got = lookup_prf(pairs, {"a": "x", "b": "x", "c": "x"})
    assert (got["tp"], got["fp"], got["fn"]) == (1, 1, 1)


def test_pair_sample_is_deterministic_and_labeled_like_fixtures():
    from mix_blink_spark.fixtures import make_corpus

    gold = [(m["mention_id"], m["labels"]) for m in make_corpus(seed=3, n_pages=300)["mentions_gold"]]
    sample = sample_labeled_pairs(gold, seed=9)
    assert sample == sample_labeled_pairs(list(reversed(gold)), seed=9)
    labels = {m: {x for x in ls if x != "-1"} for m, ls in gold}
    assert all(a < b for a, b, _ in sample)
    assert len({(a, b) for a, b, _ in sample}) == len(sample)
    for a, b, match in sample:
        assert match == bool(labels[a] & labels[b])
    n_pos = sum(match for *_, match in sample)
    assert 0 < n_pos < len(sample)
    assert len(sample) <= 2 * len(gold)  # linear in the mention count


def test_membership_error():
    assert membership_error([("a", "a"), ("b", "a")], {"a", "b"}) is None
    assert "more than one" in membership_error([("a", "a"), ("a", "b")], {"a"})
    assert "no cluster" in membership_error([("a", "a")], {"a", "b"})
    assert "unknown" in membership_error([("a", "a"), ("z", "a")], {"a"})


def _rows(df) -> list[tuple]:
    """Sorted rows with arrays as tuples and binaries as bytes."""
    def norm(v):
        return bytes(v) if isinstance(v, bytearray) else tuple(v) if isinstance(v, list) else v

    return sorted(tuple(norm(v) for v in r) for r in df.collect())


def test_generated_inputs_equal_distributed_corpus(spark, tmp_path):
    from pyspark.sql import functions as F

    from inputs import Workload, _generate
    from mix_blink_spark.fixtures import distributed_corpus

    out = tmp_path / "set"
    _generate(Workload("t", 90, 40, boiler_kb=2, wide_names=True, increments=False), 7, str(out))
    corpus, ents = distributed_corpus(spark, 90, 40, 7, boiler_kb=2, wide_names=True)
    m = corpus.select("url", F.explode("mentions").alias("m"))
    want = {
        "pages": corpus.select("url", "warc_ts", "html", "text", "lang"),
        "spans": m.select("url", "m.mention_id", "m.start", "m.end"),
        "gold": m.select("m.mention_id", "m.labels"),
        "entities": ents,
    }
    for name, df in want.items():
        got = spark.read.parquet(str(out / name)).select(*df.columns)
        assert _rows(got) == _rows(df), name


# --- spans -----------------------------------------------------------------


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "m.root", 0.0, 10.0),
        _span(1, "m.a", 1.0, 4.0, parent=0),
        _span(2, "m.b", 3.0, 5.0, parent=0),  # overlaps a: union 1..5
        _span(3, "m.c", 9.0, 12.0, parent=0),  # clipped to 9..10
        _span(4, "m.d", 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nests_spans_and_writes_self_times(tmp_path):
    tr = Tracer("run1")
    with tr.span("x.outer") as outer:
        with tr.span("x.inner") as inner:
            pass
        tr.add("x.mark", outer.start, outer.start)
    assert inner.parent == outer.id and tr.spans[2].parent == outer.id
    assert outer.module == "x" and outer.end >= inner.end
    path = tmp_path / "spans.jsonl"
    tr.write(str(path))
    lines = path.read_text().splitlines()
    assert len(lines) == 3 and '"run_id": "run1"' in lines[0] and '"self_s"' in lines[0]


# --- event log -------------------------------------------------------------
#
# data/eventlog_tiny.json is a real Spark 4.1 event log, cut down to its
# job-start and task-end records, of two jobs on local[2]:
#   job 0: sc.parallelize(range(100), 2).count()            (2 tasks)
#   job 1: parallelize(range(100), 2).map(k, 1).reduceByKey(add, 2).collect()
#          (2 map tasks writing shuffle, 2 reduce tasks reading it)


def _tiny_events():
    return read_event_log(event_log_files(DATA, "eventlog_tiny.json"))


def test_event_log_counters_on_recorded_log():
    events = _tiny_events()
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"]
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"]
    assert len(jobs) == 2 and len(tasks) == 6
    split = jobs[1]["Submission Time"] / 1000.0
    end = max(t["Task Info"]["Finish Time"] for t in tasks) / 1000.0 + 1
    spans = [_span(0, "a.count", split - 60, split - 0.001), _span(1, "b.shuffle", split, end)]
    c = module_counters(events, spans, nproc=2)
    assert c["a"]["jobs"] == 1 and c["a"]["tasks"] == 2
    assert c["b"]["jobs"] == 1 and c["b"]["tasks"] == 4
    assert c["a"]["shuffle_mb"] == 0
    written = sum(
        t["Task Metrics"]["Shuffle Write Metrics"]["Shuffle Bytes Written"] for t in tasks
    )
    assert written > 0
    # shuffle_mb counts bytes written by the map side plus bytes read by the reducers
    assert c["b"]["shuffle_mb"] == pytest.approx(2 * written / 2**20)
    cpu = sum(t["Task Metrics"]["Executor CPU Time"] for t in tasks[2:]) / 1e9
    assert c["b"]["cpu_busy"] == pytest.approx(cpu / ((end - split) * 2))
    assert c["a"]["task_retries"] == c["b"]["task_retries"] == 0
    assert c["b"]["task_skew"] >= 1.0


def test_event_log_task_skew_and_retries():
    def task(stage, launch, finish, attempt=0):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Info": {"Launch Time": launch, "Finish Time": finish, "Attempt": attempt,
                          "Failed": False},
            "Task Metrics": {"Executor CPU Time": 0, "JVM GC Time": 250},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Submission Time": 1000},
        task(0, 1000, 1100), task(0, 1000, 1100), task(0, 1000, 1400, attempt=1),
        task(1, 2000, 2100),
    ]
    c = module_counters(events, [_span(0, "m.s", 0.5, 3.0)], nproc=1)["m"]
    assert c["jobs"] == 1 and c["tasks"] == 4 and c["task_retries"] == 1
    assert c["gc_s"] == pytest.approx(1.0)
    # slowest stage is stage 0 (0.6 s of task time): max 0.4 s / median 0.1 s
    assert c["task_skew"] == pytest.approx(4.0)
