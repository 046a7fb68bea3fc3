"""Seeded benchmark inputs.

Everything is generated with the program's own synthetic-corpus generator
(`pathhier_spark.sources.corpus.generate`), so the gold triples are known by
construction. The same seed always gives the same rows; `input_hash` pins
that. Documents and ontology are written to parquet with pyarrow, so the
program only ever sees the generated files.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from collections import defaultdict
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

DOCS_SCHEMA = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)
_STRS = pa.list_(pa.string())
ONTOLOGY_SCHEMA = pa.schema(
    [
        ("class_id", pa.string()),
        ("name", pa.string()),
        ("aliases", _STRS),
        ("synonyms", _STRS),
        ("definition", _STRS),
        ("subClassOf", _STRS),
        ("part_of", _STRS),
        ("instances", _STRS),
    ]
)

# Documents go to parquet files of at most this many rows, the way a crawl
# lands as many segment files; a bigger batch is read by several tasks.
ROWS_PER_FILE = 250

# A re-crawl whose page no longer states any relation: extraction finds no
# triple in it, so ingest must drop the url's earlier edges.
TOMBSTONE_TEXT = "Page moved."


@dataclass(frozen=True)
class BuildSpec:
    n_classes: int
    n_docs: int


@dataclass(frozen=True)
class IngestSpec:
    n_classes: int
    batch_docs: int
    n_batches: int


RECRAWL_FRAC = 0.3  # share of a later batch that re-crawls earlier urls
TOMBSTONE_FRAC = 0.1  # share of a later batch re-crawled to no triples


@dataclass
class Inputs:
    ontology: list[dict]
    batches: list[list[dict]]  # one list of document rows per batch
    # url -> gold (subj_id, pred, obj_id) of its latest version; [] = tombstone
    gold: dict[str, list[tuple[str, str, str]]]
    batch_triples: list[int]  # gold triples each batch carries

    @property
    def n_docs(self) -> int:
        return sum(len(b) for b in self.batches)

    def latest(self) -> list[dict]:
        """The latest crawled version of every url, in first-seen order."""
        return list({r["url"]: r for rows in self.batches for r in rows}.values())


def _page(text: str) -> bytes:
    return (
        b"<html><head><title>doc</title></head><body><p>"
        + text.encode("utf-8")
        + b"</p></body></html>"
    )


def make_build(spec: BuildSpec, seed: int) -> Inputs:
    from pathhier_spark.sources.corpus import generate

    c = generate(n_classes=spec.n_classes, n_docs=spec.n_docs, seed=seed)
    gold = defaultdict(list)
    for g in c.gold_triples:
        gold[g["url"]].append((g["subj_id"], g["pred"], g["obj_id"]))
    return Inputs(c.ontology, [c.documents], dict(gold), [len(c.gold_triples)])


def make_ingest(spec: IngestSpec, seed: int) -> Inputs:
    """Batch 0 holds new urls only. Every later batch mixes new urls,
    re-crawls of earlier urls with new content, and re-crawls that yield no
    triples (tombstones). A url appears at most once per batch."""
    from pathhier_spark.sources.corpus import generate

    n_tomb = round(spec.batch_docs * TOMBSTONE_FRAC)
    n_recrawl = round(spec.batch_docs * RECRAWL_FRAC)
    n_new = spec.batch_docs - n_tomb - n_recrawl
    n_content = spec.batch_docs + (spec.n_batches - 1) * (n_new + n_recrawl)
    c = generate(n_classes=spec.n_classes, n_docs=n_content, seed=seed)
    content_gold = defaultdict(list)
    for g in c.gold_triples:
        content_gold[g["url"]].append((g["subj_id"], g["pred"], g["obj_id"]))

    rng = random.Random(seed)
    base_ts = dt.datetime(2024, 6, 1, tzinfo=dt.timezone.utc)
    pool = iter(c.documents)
    seen: list[str] = []
    gold: dict[str, list[tuple[str, str, str]]] = {}
    batches, batch_triples = [], []
    for b in range(spec.n_batches):
        rows = []
        fresh = spec.batch_docs if b == 0 else n_new
        for _ in range(fresh):
            d = next(pool)
            rows.append(dict(d))
            gold[d["url"]] = content_gold[d["url"]]
        if b > 0:
            old = rng.sample(seen, n_recrawl + n_tomb)
            for url in old[:n_recrawl]:
                d = next(pool)
                rows.append(dict(d, url=url))
                gold[url] = content_gold[d["url"]]
            for url in old[n_recrawl:]:
                rows.append(
                    {"url": url, "warc_ts": None, "html": _page(TOMBSTONE_TEXT),
                     "text": TOMBSTONE_TEXT, "lang": "en"}
                )
                gold[url] = []
        for i, r in enumerate(rows):
            r["warc_ts"] = base_ts + dt.timedelta(days=b, seconds=i)
        seen.extend(r["url"] for r in rows[:fresh])
        batches.append(rows)
        batch_triples.append(sum(len(gold[r["url"]]) for r in rows))
    return Inputs(c.ontology, batches, gold, batch_triples)


def write_parquet(inputs: Inputs, directory: str) -> tuple[str, list[str]]:
    """Write the ontology and each batch (a directory of parquet files);
    returns (ontology_path, batch_paths)."""
    onto_path = os.path.join(directory, "ontology.parquet")
    pq.write_table(pa.Table.from_pylist(inputs.ontology, ONTOLOGY_SCHEMA), onto_path)
    paths = [
        write_docs(rows, os.path.join(directory, f"docs_{b}"))
        for b, rows in enumerate(inputs.batches)
    ]
    return onto_path, paths


def write_docs(rows: list[dict], path: str) -> str:
    """Write document rows as a directory of parquet files; returns `path`."""
    os.makedirs(path)
    for i in range(0, len(rows), ROWS_PER_FILE):
        pq.write_table(
            pa.Table.from_pylist(rows[i : i + ROWS_PER_FILE], DOCS_SCHEMA),
            os.path.join(path, f"part-{i // ROWS_PER_FILE:05d}.parquet"),
        )
    return path


def input_hash(inputs: Inputs) -> str:
    """sha256 over every generated row (ontology, batches, gold)."""
    h = hashlib.sha256()
    for part in (inputs.ontology, *inputs.batches):
        for row in part:
            h.update(
                json.dumps(row, sort_keys=True, default=_encode).encode("utf-8")
            )
    h.update(json.dumps(sorted(inputs.gold.items())).encode("utf-8"))
    return h.hexdigest()


def _encode(v):
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dt.datetime):
        return v.isoformat()
    raise TypeError(type(v))
