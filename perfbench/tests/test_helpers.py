"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq
import pytest

import inputs
import run
import stats
from spans import Tracer

ROOT = Path(__file__).resolve().parents[2]


def test_tail_percentile_keeps_ten_samples_beyond():
    values = [float(i) for i in range(50)]
    value, pct, n = stats.tail_percentile(reversed(values))
    assert (value, pct, n) == (39.0, 80.0, 50)
    assert sum(v > value for v in values) == 10


def test_tail_percentile_needs_more_than_ten_samples():
    assert stats.tail_percentile(range(10)) is None
    assert stats.tail_percentile(range(11)) == (0, 9.09, 11)


def test_lateness_is_drop_minus_due():
    due = {"a": 1.0, "b": 2.0}
    assert stats.lateness(due, {"a": 1.25, "b": 2.0}) == [0.25, 0.0]


def test_attribute_latency_joins_files_to_their_batch_commit():
    due = {"f0": 0.0, "f1": 0.5, "f2": 1.0}
    batch_files = {0: ["f0", "f1"], 1: [], 2: ["f2", "warmup"]}
    commits = {0: 2.0, 1: 2.5, 2: 3.5}
    assert stats.attribute_latency(due, batch_files, commits) == {"f0": 2.0, "f1": 1.5, "f2": 2.5}


@pytest.mark.parametrize(
    "batch_files, commits, message",
    [
        ({0: ["f0"], 1: ["f0", "f1"]}, {0: 1.0, 1: 2.0}, "two batches"),
        ({0: ["f0"]}, {0: 1.0}, "never committed"),
        ({0: ["f0"], 1: ["f1"]}, {0: 1.0}, "never committed"),
    ],
)
def test_attribute_latency_rejects_broken_attribution(batch_files, commits, message):
    with pytest.raises(ValueError, match=message):
        stats.attribute_latency({"f0": 0.0, "f1": 0.0}, batch_files, commits)


def test_backlog_counts_files_dropped_but_not_committed():
    dropped = {"a": 0.0, "b": 1.0, "c": 2.0}
    committed = {"a": 1.5, "b": 1.5}
    assert [stats.backlog_at(t, dropped, committed) for t in (0.5, 1.0, 1.5, 2.5)] == [1, 2, 0, 1]


def test_daily_mismatches_tolerates_summation_order_only():
    expected = {("1", "2025-01-02"): 0.1 + 0.2 + 0.3}
    assert stats.daily_mismatches({("1", "2025-01-02"): 0.3 + 0.2 + 0.1}, expected) == []
    assert len(stats.daily_mismatches({("1", "2025-01-02"): 0.61}, expected)) == 1
    assert len(stats.daily_mismatches({}, expected)) == 1


def test_contention_label():
    assert stats.contention_label(0.10, 0.12) == "clean"
    assert stats.contention_label(0.10, 0.20) == "contended"


def test_inputs_are_seeded_and_shaped_like_the_producer():
    a = inputs.transaction_files(7, 30, 40, 1)
    assert a == inputs.transaction_files(7, 30, 40, 1)
    assert a != inputs.transaction_files(8, 30, 40, 1)
    rec = json.loads(a[0][0].line())
    assert set(rec) == {
        "transaction_id", "customer_id", "merchant_id", "timestamp",
        "amount", "payment_method", "status",
    }
    assert rec["timestamp"].endswith("Z")
    rows = [t for f in a for t in f]
    dups = len(rows) - len(inputs.distinct(a))
    assert 0.02 < dups / len(rows) < 0.08
    first = a[0][0].timestamp.replace(hour=1, minute=0, second=0)
    seen: set[str] = set()
    for i, f in enumerate(a):
        for t in f:
            if t.transaction_id in seen:
                continue  # a redelivery keeps its original time
            nominal = first + dt.timedelta(seconds=i)
            assert abs((t.timestamp - nominal).total_seconds()) <= inputs.JITTER_S
            assert t.timestamp.time() >= dt.time(0, 5)
        seen.update(t.transaction_id for t in f)


def test_redeliveries_copy_an_earlier_transaction_exactly():
    files = inputs.transaction_files(3, 20, 50, 1)
    seen = {}
    for f in files:
        for t in f:
            assert seen.setdefault(t.transaction_id, t) == t


def test_zipf_customers_are_skewed():
    files = inputs.transaction_files(5, 10, 500, 30, zipf_s=1.1)
    counts = Counter(t.customer_id for f in files for t in f)
    assert counts[1] > 20 * max(counts.get(500, 0), 1)


def test_inputs_refuse_to_cross_midnight():
    with pytest.raises(ValueError, match="midnight"):
        inputs.transaction_files(1, 3000, 1, 30)


def test_span_self_time_excludes_children():
    tr = Tracer()
    root = tr.add("root", 0.0, 10.0)
    a = tr.add("a", 1.0, 4.0, root)
    tr.add("a1", 2.0, 3.0, a)
    tr.add("b", 3.5, 6.0, root)
    selfs = tr.self_times()
    assert selfs[root] == pytest.approx(10.0 - 5.0)
    assert selfs[a] == pytest.approx(2.0)
    rows = {r["name"]: r for r in tr.table()}
    assert rows["a1"]["self_s"] == pytest.approx(1.0)


def test_runner_metrics_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


def test_set_mismatches_names_missing_and_extra_ids():
    assert stats.set_mismatches({1, 2}, {1, 2}) == []
    problems = stats.set_mismatches({1, 3}, {1, 2})
    assert problems == ["1 expected ids missing, first [2]", "1 unexpected ids, first [3]"]


def test_row_mismatches_compare_canonical_bags_by_column_name():
    rows = [(1, 0.1 + 0.2, dt.datetime(2024, 1, 2)), (2, None, dt.datetime(2024, 1, 3))]
    oracle = [(float("nan"), 2, dt.date(2024, 1, 3)), (0.3, 1, dt.date(2024, 1, 2))]
    assert stats.row_mismatches(["id", "x", "d"], rows, ["x", "id", "d"], oracle) == []
    assert stats.row_mismatches(["id"], [(1,)], ["id"], [(1,), (1,)]) == ["1 rows, expected 2"]
    assert stats.row_mismatches(["id"], [(1,)], ["key"], [(1,)])[0].startswith("columns")
    assert len(stats.row_mismatches(["x"], [(0.3001,)], ["x"], [(0.3,)])) == 1


def test_curation_waves_hold_every_kind_in_the_stated_shares():
    corpus, waves = inputs.curation_docs(3, 100, 4, 40)
    assert (corpus, waves) == inputs.curation_docs(3, 100, 4, 40)
    texts = {d.text: d for d in corpus}
    vectors = {d.embedding: d for d in corpus}
    ids = [d.doc_id for w in waves for d in w]
    assert len(set(ids)) == len(ids) and min(ids) > max(d.doc_id for d in corpus)
    for wave in waves:
        kinds = Counter(d.kind for d in wave)
        assert kinds == {"text_clone": 10, "vector_clone": 10, "spam": 2, "clean": 18}
        for d in wave:
            assert (d.text in texts) == (d.kind == "text_clone")
            assert (d.embedding in vectors) == (d.kind == "vector_clone")
            assert set(d.text.split()) <= set(inputs.SPAM if d.kind == "spam" else inputs.CLEAN) or d.kind == "text_clone"
        # clones of one wave copy distinct corpus documents
        assert len({texts[d.text].doc_id for d in wave if d.kind == "text_clone"}
                   | {vectors[d.embedding].doc_id for d in wave if d.kind == "vector_clone"}) == 20
    assert json.loads(waves[0][0].line())["doc_id"] == waves[0][0].doc_id


def test_mix_tables_have_the_test_data_schema_and_near_duplicates(tmp_path):
    inputs.mix_tables(4, str(tmp_path), 200, 300)
    docs = pq.read_table(tmp_path / "documents.parquet")
    assert docs.schema.names == ["doc_id", "text", "lang", "source", "n_chars"]
    emb = pq.read_table(tmp_path / "embeddings.parquet")
    assert str(emb.schema.field("embedding").type) == "list<element: float>"
    events = pq.read_table(tmp_path / "events.parquet")
    assert str(events.schema.field("ts").type) == "timestamp[us]"
    words = [t.split() for t in docs.column("text").to_pylist()]

    def one_word_apart(a, b):
        return len(a) == len(b) and sum(x != y for x, y in zip(a, b)) <= 1

    near = sum(any(one_word_apart(w, u) for u in words[:i]) for i, w in enumerate(words))
    assert 10 <= near <= 35


@pytest.fixture(scope="module")
def ctx(tmp_path_factory):
    """A session pinned the way the runner pins it; the environment is
    restored afterwards so later tests in the process see their own."""
    from workload import Ctx

    saved = dict(os.environ)
    work = tmp_path_factory.mktemp("perfbench")
    run.pin_environment(work)
    spark = run.start_session(work)
    try:
        yield Ctx(spark, str(work), None)
    finally:
        run.stop_session(spark)
        os.environ.clear()
        os.environ.update(saved)


def test_check_fails_on_one_perturbed_derby_row(ctx):
    import spending
    from kafka_sparkstreaming_sbt_spark.sources.jdbc import write_jdbc_append

    files = inputs.transaction_files(11, 4, 25, 1)
    expected = spending.expected_totals(ctx.spark, inputs.distinct(files))
    sink = spending.DerbySink(ctx.spark, "perfbench_test")
    try:
        rows = [(c, dt.date.fromisoformat(d), v) for (c, d), v in expected.items()]
        daily = ctx.spark.createDataFrame(
            rows, "customer_id string, transaction_date date, total_spent double"
        )
        write_jdbc_append(daily, sink.cfg)
        assert spending.check(ctx, sink, files, []) == []

        customer, day = sorted(expected)[0]
        sink._exec(
            sink.cfg.url,
            f"UPDATE daily SET total_spent = total_spent + 0.01 "
            f"WHERE customer_id = '{customer}' AND transaction_date = '{day}'",
        )
        problems = spending.check(ctx, sink, files, [])
        assert len(problems) == 1 and customer in problems[0]
    finally:
        sink.drop()


def test_check_fails_on_late_rows(ctx):
    import spending

    progress = [{"stateOperators": [{"operatorName": "stateStoreSave", "numRowsDroppedByWatermark": 2}]}]
    sink = spending.DerbySink(ctx.spark, "perfbench_test_late")
    try:
        assert spending.check(ctx, sink, [], progress) == ["windows dropped 2 late rows"]
    finally:
        sink.drop()
