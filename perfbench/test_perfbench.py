"""Tests of the benchmark's own machinery; no Spark session needed.

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import trace as tr  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.inputs import (  # noqa: E402
    TOMBSTONE_TEXT,
    BuildSpec,
    IngestSpec,
    input_hash,
    make_build,
    make_ingest,
)

SMALL_BUILD = BuildSpec(n_classes=20, n_docs=30)
SMALL_INGEST = IngestSpec(n_classes=20, batch_docs=20, n_batches=4)


@pytest.mark.parametrize(
    "make, spec", [(make_build, SMALL_BUILD), (make_ingest, SMALL_INGEST)]
)
def test_inputs_are_deterministic_per_seed(make, spec):
    assert input_hash(make(spec, 7)) == input_hash(make(spec, 7))
    assert input_hash(make(spec, 7)) != input_hash(make(spec, 8))


def test_ingest_batches_mix_new_urls_recrawls_and_tombstones():
    inputs = make_ingest(SMALL_INGEST, 3)
    seen: set[str] = set()
    for b, rows in enumerate(inputs.batches):
        urls = [r["url"] for r in rows]
        assert len(urls) == len(set(urls)) == SMALL_INGEST.batch_docs
        old = [r for r in rows if r["url"] in seen]
        if b == 0:
            assert not old
        else:
            tombstones = [r for r in old if r["text"] == TOMBSTONE_TEXT]
            assert 0 < len(tombstones) < len(old) < len(rows)
        seen.update(urls)
    latest = {r["url"]: r for r in inputs.latest()}
    assert set(inputs.gold) == set(latest)
    for url, row in latest.items():
        assert (inputs.gold[url] == []) == (row["text"] == TOMBSTONE_TEXT)


def test_event_log_counters_per_job_group():
    with open(os.path.join(HERE, "testdata", "eventlog.jsonl")) as f:
        groups = tr.parse_event_log(f)
    g = groups["perfbench-span-3"]
    # stage 1 carries no group of its own: it inherits job 0's
    assert (g.jobs, g.tasks, g.failed_tasks) == (1, 3, 1)
    assert g.cpu_ns == 2_250_000_000
    assert g.shuffle_bytes == 2 * 1024 * 1024
    assert g.spill_bytes == 1024 * 1024
    loose = groups[None]
    assert (loose.jobs, loose.tasks, loose.cpu_ns) == (1, 1, 100_000_000)


def _span(i, name, parent, start, end):
    return tr.Span(i, name, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, "pipeline.run", None, 0.0, 10.0),
        _span(1, "extract.html", 0, 1.0, 3.0),
        _span(2, "linking.link_mentions", 0, 2.0, 5.0),  # overlaps span 1
        _span(3, "checkpoint.verify", 2, 4.0, 5.0),
        _span(4, "pipeline.canonical_edges", 0, 9.0, 12.0),  # runs past its parent
    ]
    selfs = tr.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert selfs[1] == pytest.approx(2.0)
    assert selfs[2] == pytest.approx(2.0)
    assert selfs[3] == pytest.approx(1.0)
    assert selfs[4] == pytest.approx(3.0)


def test_stage_spans_and_root_self_time_add_up_to_the_root():
    spans = [
        _span(0, "pipeline.run", None, 0.0, 20.0),
        _span(1, "extract.html", 0, 0.5, 4.0),
        _span(2, "checkpoint.verify", 1, 3.0, 4.0),
        _span(3, "pipeline.canonical_edges", 0, 5.0, 19.0),
    ]
    m = tr.layer_metrics(spans, {})
    stages = m["extract.html.wall_s"] + m["pipeline.canonical_edges.wall_s"]
    assert stages + m["pipeline.run.self_s"] == pytest.approx(m["pipeline.run.wall_s"])
    assert m["warehouse.merge.wall_s"] == 0.0  # never opened: reported as zero


def test_tracer_end_closes_spans_left_open_inside():
    switched = []
    t = tr.Tracer(switched.append)
    stage = t.begin("extract.html")
    t.begin("checkpoint.verify")  # opened inside the stage, never closed by name
    t.end(stage)
    assert t.current is None
    assert all(s.end is not None for s in t.spans)
    assert t.spans[1].parent == stage.id
    assert switched[-1] is None


def test_layer_metrics_sum_occurrences_and_attach_counters():
    spans = [
        _span(0, "warehouse.merge", None, 0.0, 2.0),
        _span(1, "warehouse.merge", None, 3.0, 6.0),
    ]
    groups = {spans[0].group: tr.GroupCounters(jobs=2, tasks=5, cpu_ns=10**9)}
    m = tr.layer_metrics(spans, groups)
    assert m["warehouse.merge.wall_s"] == pytest.approx(5.0)
    assert (m["warehouse.merge.jobs"], m["warehouse.merge.tasks"]) == (2, 5)
    assert m["warehouse.merge.cpu_s"] == pytest.approx(1.0)


def test_benchmark_json_lists_exactly_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == wl.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == wl.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} == set(wl.SPECS)
