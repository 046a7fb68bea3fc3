"""The benchmark's workloads: one unit of work each, how it is timed, how its
output is checked, and which metrics it yields.

* crawl_build: one `run_pipeline` from the input parquet to a fully
  committed KG in a fresh checkpoint root. The first unit of a run is the
  first build of a fresh JVM, the way a scheduled batch build runs.
* recrawl_ingest: a closed loop of one caller sending the crawl batches one
  after another, each waiting for the previous commit, through
  `run_pipeline_incremental` into a fresh warehouse table. The from-scratch
  build the check compares against runs first, once, so the batches run in
  a warm JVM, the way a long-running ingest service runs them.

Units repeat until `seconds` have passed, at least once. A unit whose call
raises or whose output fails a check counts as failed and gives no timing.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import statistics
import sys
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field
from time import perf_counter

import pyarrow.parquet as pq

from perfbench import trace as tr
from perfbench.engine import Engine, RssSampler
from perfbench.inputs import (
    BuildSpec,
    IngestSpec,
    Inputs,
    make_build,
    make_ingest,
    write_docs,
)

SPECS = {
    "crawl_build": BuildSpec(n_classes=100, n_docs=20000),
    "recrawl_ingest": IngestSpec(n_classes=30, batch_docs=100, n_batches=3),
}
MAKERS = {"crawl_build": make_build, "recrawl_ingest": make_ingest}

MIN_PR = 0.95
EDGES_TABLE = "kg_edges"
EDGE_COLUMNS = ("subj", "pred", "obj", "url", "provenance")

END_TO_END_UNITS = {
    "setup_s": "s",
    "build_s": "s",
    "docs_per_s": "1/s",
    "batch_p50_s": "s",
    "last_batch_s": "s",
    "triple_f1": "ratio",
    "peak_rss_mb": "MB",
}
_COUNTER_UNITS = {
    "wall_s": "s", "self_s": "s", "jobs": "count", "tasks": "count",
    "cpu_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
}
_EXTRA_LAYER_UNITS = {
    "engine.failed_tasks": "count",
    "engine.gc_s": "s",
    "linking.cand_pairs_per_mention": "ratio",
    "linking.links_per_cand": "ratio",
    "canonicalize.rounds": "count",
    "checkpoint.bytes_mb": "MB",
    "checkpoint.files": "count",
    "warehouse.bytes_written_mb": "MB",
    "warehouse.write_amp": "ratio",
    "warehouse.files": "count",
    "ingest.jobs_per_batch": "count",
}


def per_layer_units() -> dict[str, str]:
    units = {
        f"{span}.{c}": _COUNTER_UNITS[c] for span in tr.SPANS for c in tr.COUNTERS
    }
    units.update(_EXTRA_LAYER_UNITS)
    return units


@dataclass
class Context:
    engine: Engine
    inputs: Inputs
    onto_path: str
    batch_paths: list[str]
    work_dir: str
    attempted: int = 0
    failed: int = 0
    trace_json: str | None = None
    _dirs: int = field(default=0, repr=False)

    @property
    def spark(self):
        return self.engine.spark

    def fresh_dir(self, kind: str) -> str:
        self._dirs += 1
        return os.path.join(self.work_dir, f"{kind}_{self._dirs}")

    def attempt(self, unit: Callable[[], dict | None]) -> dict | None:
        """Run one unit of work; a raise or a failed check (None) is a failure."""
        self.attempted += 1
        return self._guarded(unit)

    def prepare(self, step: Callable[[], dict | None]) -> dict | None:
        """A step the units depend on; if it fails, the run's one attempt
        fails with it."""
        result = self._guarded(step)
        if result is None:
            self.attempted += 1
        return result

    def check(self, runs: list[dict], verify: Callable[[dict], dict | None]) -> list[dict]:
        """Check the output of units already attempted; a raise or a failed
        check (None) turns the unit into a failure."""
        return [d for d in (self._guarded(lambda r=r: verify(r)) for r in runs) if d]

    def _guarded(self, fn: Callable[[], dict | None]) -> dict | None:
        try:
            result = fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            result = None
        if result is None:
            self.failed += 1
        return result

    def repeat(self, unit: Callable[[], dict | None], seconds: float) -> list[dict]:
        """Units back to back until `seconds` have passed; stops at a failure."""
        done = []
        t0 = perf_counter()
        while not done or perf_counter() - t0 < seconds:
            result = self.attempt(unit)
            if result is None:
                break
            done.append(result)
        return done


def _f1(got: set, want: set) -> tuple[float, float, float]:
    tp = len(got & want)
    p = tp / len(got) if got else 0.0
    r = tp / len(want) if want else 0.0
    return p, r, (2 * p * r / (p + r) if p + r else 0.0)


def _part_files(root: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, names in os.walk(root)
        for f in names
        if f.startswith("part-")
    ]


def _fail(msg: str) -> None:
    print(f"perfbench: check failed: {msg}", file=sys.stderr)


# -- crawl_build --------------------------------------------------------------


def _run_build(ctx: Context, region=contextlib.nullcontext) -> dict:
    from pathhier_spark.plans.pipeline import run_pipeline

    root = ctx.fresh_dir("checkpoint")
    with region():
        t0 = perf_counter()
        docs = ctx.spark.read.parquet(ctx.batch_paths[0])
        onto = ctx.spark.read.parquet(ctx.onto_path)
        out = run_pipeline(ctx.spark, docs, onto, root)
        wall = perf_counter() - t0
    return {"wall": wall, "root": root, "out": out, "docs": docs, "onto": onto}


def _check_build(ctx: Context, run: dict) -> dict | None:
    """Triple P/R against gold, byte-identical extracted text, and an
    idempotent resume. Returns the run with its triple F1, or None."""
    from pathhier_spark.plans.pipeline import run_pipeline

    out = run["out"]
    got = {
        tuple(r)
        for r in out["triples"].select("url", "subj_id", "pred", "obj_id").collect()
    }
    want = {(u, *t) for u, ts in ctx.inputs.gold.items() for t in ts}
    p, r, f1 = _f1(got, want)
    if p < MIN_PR or r < MIN_PR:
        _fail(f"triple precision {p:.4f} / recall {r:.4f} below {MIN_PR}")
        return None
    texts = dict(out["extracted"].select("url", "extracted_text").collect())
    source = {d["url"]: d["text"] for d in ctx.inputs.batches[0]}
    if texts != source:
        bad = sum(texts.get(u) != t for u, t in source.items())
        _fail(f"extracted text differs from the source for {bad} urls")
        return None
    lineage = os.path.join(run["root"], "_lineage.jsonl")
    with open(lineage) as f:
        before = sum(1 for _ in f)
    run_pipeline(ctx.spark, run["docs"], run["onto"], run["root"])
    with open(lineage) as f:
        after = sum(1 for _ in f)
    if after != before:
        _fail(f"resume on a committed root added {after - before} lineage rows")
        return None
    return dict(run, f1=f1)


def crawl_build(ctx: Context, seconds: float, trace: bool) -> dict[str, float]:
    if trace:
        return _trace_build(ctx)
    with RssSampler() as rss:
        runs = ctx.repeat(lambda: _run_build(ctx), seconds)
    done = ctx.check(runs, lambda run: _check_build(ctx, run))
    if not done:
        return {}
    build_s = statistics.median(d["wall"] for d in done)
    return {
        "build_s": build_s,
        "docs_per_s": ctx.inputs.n_docs / build_s,
        # a build commits the whole corpus as one batch
        "batch_p50_s": build_s,
        "last_batch_s": build_s,
        "triple_f1": min(d["f1"] for d in done),
        "peak_rss_mb": rss.peak / tr.MB,
    }


def _trace_build(ctx: Context) -> dict[str, float]:
    session = _TracedSession(ctx)

    def unit():
        with tr.instrument_build(session.tracer, session.probes):
            run = _run_build(ctx, lambda: session.tracer.span("pipeline.run"))
        session.stop_clock(ctx)
        return _check_build(ctx, run)

    traced = ctx.attempt(unit)
    if traced is None:
        return {}
    metrics = _linking_metrics(session.probes, traced["root"])
    files = _part_files(traced["root"])
    metrics["checkpoint.files"] = len(files)
    metrics["checkpoint.bytes_mb"] = sum(map(os.path.getsize, files)) / tr.MB
    metrics.update(session.finish(ctx))
    return metrics


def _linking_metrics(probes: tr.Probes, root: str) -> dict[str, float]:
    """Candidate pairs per distinct mention, and links kept per candidate."""
    mentions = sum(src.count() for src, _ in probes.candidates)
    pairs = sum(p.count() for _, p in probes.candidates)
    with open(os.path.join(root, "_lineage.jsonl")) as f:
        links = [r["rows"] for r in map(json.loads, f) if r["stage"] == "links"][-1]
    return {
        "linking.cand_pairs_per_mention": pairs / max(mentions, 1),
        "linking.links_per_cand": links / max(pairs, 1),
    }


# -- recrawl_ingest -------------------------------------------------------------


def reference_kg(ctx: Context) -> dict:
    """The KG a from-scratch build over the latest version of every url
    yields: one `run_pipeline_incremental` of those documents into an empty
    table. Returns the fingerprint of its rows and the gold edge set (the
    gold triples of the latest versions, class ids mapped through the
    program's own `canonicalize_classes`). Computed once per run, before the
    timed units, so it also warms the JVM the batches then run in."""
    from pathhier_spark.plans.pipeline import (
        canonicalize_classes,
        run_pipeline_incremental,
    )

    root = ctx.fresh_dir("reference")
    docs = write_docs(ctx.inputs.latest(), os.path.join(root, "latest_docs"))
    onto = ctx.spark.read.parquet(ctx.onto_path)
    run_pipeline_incremental(
        ctx.spark, ctx.spark.read.parquet(docs), onto, os.path.join(root, "wh"),
        "reference", edges_table=EDGES_TABLE,
    )
    canon = dict(
        canonicalize_classes(onto).select("class_id", "canonical_id").collect()
    )
    return {
        "fingerprint": _fingerprint(_table_rows(ctx, os.path.join(root, "wh"))),
        "gold": {
            (canon[s], p, canon[o], url)
            for url, ts in ctx.inputs.gold.items()
            for s, p, o in ts
        },
    }


def _table_rows(ctx: Context, root: str) -> list[tuple]:
    """Every row of the warehouse edges table."""
    from pathhier_spark.sources.warehouse import Warehouse

    table = Warehouse(ctx.spark, root).read(EDGES_TABLE)
    return [tuple(r) for r in table.select(*EDGE_COLUMNS).collect()]


def _fingerprint(rows) -> str:
    h = hashlib.sha256()
    for row in sorted(rows, key=repr):
        h.update(repr(row).encode("utf-8") + b"\x1e")
    return h.hexdigest()


def _run_ingest(ctx: Context, region=contextlib.nullcontext, on_commit=None) -> dict:
    """`on_commit(root)` runs before the first batch and after each one,
    outside the timed region."""
    from pathhier_spark.plans.pipeline import run_pipeline_incremental

    root = ctx.fresh_dir("warehouse")
    onto = ctx.spark.read.parquet(ctx.onto_path)
    latencies = []
    if on_commit is not None:
        on_commit(root)
    for b, path in enumerate(ctx.batch_paths):
        with region():
            t0 = perf_counter()
            docs = ctx.spark.read.parquet(path)
            run_pipeline_incremental(
                ctx.spark, docs, onto, root, f"batch-{b}", edges_table=EDGES_TABLE
            )
            latencies.append(perf_counter() - t0)
        if on_commit is not None:
            on_commit(root)
    return {"batches": latencies, "root": root}


def _check_ingest(ctx: Context, run: dict, reference: dict) -> dict | None:
    """The ingested table must equal the from-scratch KG, row for row.
    Returns the run with the F1 of its edges against gold, or None."""
    got = _table_rows(ctx, run["root"])
    if _fingerprint(got) != reference["fingerprint"]:
        _fail(
            f"ingested table ({len(got)} rows) differs from the from-scratch "
            "build over the latest crawl"
        )
        return None
    return dict(run, f1=_f1({row[:4] for row in got}, reference["gold"])[2])


def recrawl_ingest(ctx: Context, seconds: float, trace: bool) -> dict[str, float]:
    reference = ctx.prepare(lambda: reference_kg(ctx))
    if reference is None:
        return {}
    if trace:
        return _trace_ingest(ctx, reference)
    with RssSampler() as rss:
        runs = ctx.repeat(lambda: _run_ingest(ctx), seconds)
    done = ctx.check(runs, lambda run: _check_ingest(ctx, run, reference))
    if not done:
        return {}
    build_s = statistics.median(sum(d["batches"]) for d in done)
    return {
        # from an empty table to the committed KG of the last batch
        "build_s": build_s,
        "docs_per_s": ctx.inputs.n_docs / build_s,
        "batch_p50_s": statistics.median(b for d in done for b in d["batches"]),
        "last_batch_s": statistics.median(d["batches"][-1] for d in done),
        "triple_f1": min(d["f1"] for d in done),
        "peak_rss_mb": rss.peak / tr.MB,
    }


def _trace_ingest(ctx: Context, reference: dict) -> dict[str, float]:
    session = _TracedSession(ctx)
    listings: list[set[str]] = []

    def note(root):
        table = os.path.join(root, EDGES_TABLE)
        listings.append(set(os.listdir(table)) if os.path.isdir(table) else set())

    def unit():
        with tr.instrument_ingest(session.tracer, session.probes):
            run = _run_ingest(
                ctx, lambda: session.tracer.span("pipeline.run_incremental"), note
            )
        session.stop_clock(ctx)
        return _check_ingest(ctx, run, reference)

    traced = ctx.attempt(unit)
    if traced is None:
        return {}
    metrics = _warehouse_metrics(ctx, traced["root"], listings)
    metrics.update(session.finish(ctx))
    metrics["ingest.jobs_per_batch"] = tr.descendant_jobs(
        session.tracer.spans, session.groups, "pipeline.run_incremental"
    ) / len(ctx.batch_paths)
    return metrics


def _warehouse_metrics(ctx: Context, root: str, listings: list[set[str]]) -> dict:
    """Bytes the commits wrote, bytes rewritten per byte of each batch's own
    edges (estimated at the commit's bytes per row), and data files in the
    live snapshot."""
    from pathhier_spark.sources.warehouse import Warehouse

    table = os.path.join(root, EDGES_TABLE)
    written = own = 0.0
    for b, (before, after) in enumerate(zip(listings, listings[1:])):
        files = [f for d in sorted(after - before) for f in _part_files(os.path.join(table, d))]
        nbytes = sum(map(os.path.getsize, files))
        rows = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
        written += nbytes
        if rows:
            own += ctx.inputs.batch_triples[b] * nbytes / rows
    manifest = Warehouse(ctx.spark, root).manifest(EDGES_TABLE)
    live = manifest.get("snapshots") or [manifest["snapshot"]]
    return {
        "warehouse.bytes_written_mb": written / tr.MB,
        "warehouse.write_amp": written / own if own else 0.0,
        "warehouse.files": sum(len(_part_files(d)) for d in live),
    }


# -- traced runs ----------------------------------------------------------------


class _TracedSession:
    """Spans, probes and GC time of one traced unit; `finish` stops the Spark
    context so that its event log is complete, then parses it."""

    def __init__(self, ctx: Context):
        sc = ctx.spark.sparkContext

        def on_switch(span):
            if span is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(span.group, span.name)

        self.tracer = tr.Tracer(on_switch)
        self.probes = tr.Probes()
        self.groups: dict = {}
        self.gc_s = -ctx.engine.gc_seconds()

    def stop_clock(self, ctx: Context) -> None:
        """End of the traced unit's timed part."""
        self.gc_s += ctx.engine.gc_seconds()

    def finish(self, ctx: Context) -> dict[str, float]:
        log_path = ctx.engine.event_log_path()
        ctx.engine.stop_context()
        with open(log_path) as f:
            self.groups = tr.parse_event_log(f)
        ctx.trace_json = self.tracer.to_json()
        metrics = tr.layer_metrics(self.tracer.spans, self.groups)
        metrics["engine.failed_tasks"] = sum(
            g.failed_tasks for g in self.groups.values()
        )
        metrics["engine.gc_s"] = self.gc_s
        metrics["canonicalize.rounds"] = self.probes.cc_rounds / max(
            self.probes.cc_calls, 1
        )
        return metrics
