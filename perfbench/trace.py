"""Per-layer tracing for the benchmark, recorded from outside the program.

A traced run wraps the program's layer entry points (`instrument_build`,
`instrument_ingest`), keeps one `Span` per call in memory, and tags the Spark
jobs each span launches with a job group named after the span. After the run
the Spark event log of the traced session is parsed (`parse_event_log`) and
its task counters are summed per job group, so every span carries the
executor work it caused. `layer_metrics` turns spans and counters into the
`<span>.<counter>` metrics the benchmark reports.

Counters of a span (`jobs`, `tasks`, `cpu_s`, `shuffle_mb`, `spill_mb`) are
its own: a job counts toward the innermost span open when it was submitted.
`wall_s` covers the span with its children; `self_s` is the part of that
interval no child span covers.
"""

from __future__ import annotations

import contextlib
import json
from collections import defaultdict
from collections.abc import Callable, Iterator
from dataclasses import dataclass
from time import perf_counter

SPANS = (
    "pipeline.run",
    "extract.html",
    "extract.mentions",
    "linking.link_mentions",
    "pipeline.assemble_triples",
    "bootstrap.rescore_links",
    "canonicalize.classes",
    "pipeline.canonical_edges",
    "checkpoint.verify",
    "pipeline.run_incremental",
    "warehouse.write",
    "warehouse.merge",
)
COUNTERS = ("wall_s", "self_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "spill_mb")

# run_pipeline's checkpoint stage name -> span name
STAGE_SPANS = {
    "extracted": "extract.html",
    "mentions": "extract.mentions",
    "links": "linking.link_mentions",
    "triples": "pipeline.assemble_triples",
    "links_rescored": "bootstrap.rescore_links",
    "canonical_nodes": "canonicalize.classes",
    "edges": "pipeline.canonical_edges",
}

# run_pipeline_incremental's module-level calls -> span name
INGEST_CALLS = {
    "with_extracted_text": "extract.html",
    "extract_mentions": "extract.mentions",
    "link_mentions": "linking.link_mentions",
    "assemble_triples": "pipeline.assemble_triples",
    "canonicalize_classes": "canonicalize.classes",
    "canonical_edges": "pipeline.canonical_edges",
}

MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"


class Tracer:
    """In-memory span recorder. `on_switch(span_or_None)` is called whenever
    the innermost open span changes, which is where Spark job groups are
    set."""

    def __init__(self, on_switch: Callable[[Span | None], None]):
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._on_switch = on_switch

    @property
    def current(self) -> Span | None:
        return self._open[-1] if self._open else None

    def begin(self, name: str) -> Span:
        parent = self.current
        span = Span(len(self.spans), name, parent.id if parent else None, perf_counter())
        self.spans.append(span)
        self._open.append(span)
        self._on_switch(span)
        return span

    def end(self, span: Span) -> None:
        """Close `span` and any span still open inside it."""
        now = perf_counter()
        while self._open:
            top = self._open.pop()
            top.end = now
            if top is span:
                break
        self._on_switch(self.current)

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    def to_json(self) -> str:
        return json.dumps(
            [
                {"id": s.id, "name": s.name, "parent": s.parent,
                 "start": s.start, "end": s.end}
                for s in self.spans
            ]
        )


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it that child spans cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        clipped = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.id]
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - _covered(clipped)
    return out


# -- Spark event log ----------------------------------------------------------


@dataclass
class GroupCounters:
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    cpu_ns: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def parse_event_log(lines: Iterator[str]) -> dict[str | None, GroupCounters]:
    """Sum task counters per job group over a Spark event log (JSON lines,
    uncompressed). Key None collects jobs submitted outside any group.

    A stage belongs to the group in its submission properties, or failing
    that to the group of the first job that lists it."""
    groups: dict[str | None, GroupCounters] = defaultdict(GroupCounters)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            if "spark.jobGroup.id" in props:
                stage_group[ev["Stage Info"]["Stage ID"]] = props["spark.jobGroup.id"]
        elif kind == "SparkListenerTaskEnd":
            c = groups[stage_group.get(ev["Stage ID"])]
            c.tasks += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            c.cpu_ns += m.get("Executor CPU Time", 0)
            c.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            c.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(groups)


def layer_metrics(
    spans: list[Span], groups: dict[str | None, GroupCounters]
) -> dict[str, float]:
    """`<span>.<counter>` for every span name in SPANS (zero when the
    workload never opened it), summed over the span's occurrences."""
    selfs = self_times(spans)
    out = {f"{n}.{c}": 0.0 for n in SPANS for c in COUNTERS}
    for s in spans:
        g = groups.get(s.group, GroupCounters())
        for counter, value in (
            ("wall_s", s.end - s.start),
            ("self_s", selfs[s.id]),
            ("jobs", g.jobs),
            ("tasks", g.tasks),
            ("cpu_s", g.cpu_ns / 1e9),
            ("shuffle_mb", g.shuffle_bytes / MB),
            ("spill_mb", g.spill_bytes / MB),
        ):
            key = f"{s.name}.{counter}"
            out[key] = out.get(key, 0.0) + value
    return out


def descendant_jobs(spans: list[Span], groups, root_name: str) -> int:
    """Jobs launched inside every span called `root_name`, children included."""
    inside: set[int] = set()
    for s in spans:  # parents precede children in `spans`
        if s.name == root_name or s.parent in inside:
            inside.add(s.id)
    return sum(groups.get(s.group, GroupCounters()).jobs for s in spans if s.id in inside)


# -- instrumentation ----------------------------------------------------------


@contextlib.contextmanager
def patched(*replacements: tuple[object, str, Callable]) -> Iterator[None]:
    """Temporarily set attributes: each item is (owner, name, make_wrapper),
    where make_wrapper(original) returns the replacement."""
    saved = []
    try:
        for owner, name, make in replacements:
            original = getattr(owner, name)
            saved.append((owner, name, original))
            setattr(owner, name, make(original))
        yield
    finally:
        for owner, name, original in reversed(saved):
            setattr(owner, name, original)


def _spanned(tracer: Tracer, span_name: str):
    def make(fn):
        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    return make


def instrument_build(tracer: Tracer, probes: Probes):
    """Spans for run_pipeline: one per checkpoint stage, and a
    `checkpoint.verify` child from the end of the stage's parquet write (the
    re-read and row count that follow it) until the stage returns."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pathhier_spark.plans import checkpoint, pipeline

    stage_names = set(STAGE_SPANS.values())

    def stage(orig):
        def wrapper(self, name, build, **kwargs):
            with tracer.span(STAGE_SPANS.get(name, f"checkpoint.{name}")):
                return orig(self, name, build, **kwargs)

        return wrapper

    def parquet(orig):
        def wrapper(self, *args, **kwargs):
            result = orig(self, *args, **kwargs)
            if tracer.current is not None and tracer.current.name in stage_names:
                tracer.begin("checkpoint.verify")
            return result

        return wrapper

    return patched(
        (checkpoint.CheckpointManager, "stage", stage),
        (DataFrameWriter, "parquet", parquet),
        *probes.replacements(pipeline),
    )


def instrument_ingest(tracer: Tracer, probes: Probes):
    """Spans for run_pipeline_incremental: one per module-level layer call
    and one per warehouse commit. The layer calls only build lazy plans; the
    work they describe runs inside the warehouse commit spans."""
    from pathhier_spark.plans import pipeline
    from pathhier_spark.sources.warehouse import Warehouse

    return patched(
        *[(pipeline, fn, _spanned(tracer, span)) for fn, span in INGEST_CALLS.items()],
        (Warehouse, "write", _spanned(tracer, "warehouse.write")),
        (Warehouse, "merge", _spanned(tracer, "warehouse.merge")),
        *probes.replacements(pipeline),
    )


class Probes:
    """Counts taken at layer boundaries: the candidate pairs linking scored
    (kept for counting after the run) and the connected-components rounds
    canonicalization ran."""

    def __init__(self):
        self.candidates: list[tuple[object, object]] = []  # (mentions, pairs)
        self.cc_calls = 0
        self.cc_rounds = 0

    def replacements(self, pipeline_module):
        from pathhier_spark.operators import canonicalize

        def candidate_pairs(orig):
            def wrapper(source_tokens, *args, **kwargs):
                pairs = orig(source_tokens, *args, **kwargs)
                self.candidates.append((source_tokens, pairs))
                return pairs

            return wrapper

        def connected_components(orig):
            def wrapper(*args, **kwargs):
                self.cc_calls += 1
                return orig(*args, **kwargs)

            return wrapper

        def small_star(orig):
            def wrapper(*args, **kwargs):
                self.cc_rounds += 1
                return orig(*args, **kwargs)

            return wrapper

        return [
            (pipeline_module, "candidate_pairs", candidate_pairs),
            (pipeline_module, "connected_components", connected_components),
            (canonicalize, "_small_star", small_star),
        ]
