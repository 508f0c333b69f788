"""Seeded load generator: the inputs of every workload, cached per
(workload, seed) under the benchmark's work directory.

A workload has a fixed *shape* and a seeded *content*. The shape is the
list of document slots: each slot's doc class, container, codec, crypt
handler and font path (all functions of ``doc_id`` modulo a period in
``corpus.make_document``) and its page count, taken from a reference
seed. For seed ``s`` slot ``j`` becomes the first ``doc_id = j + k *
period`` whose document under ``s`` has the slot's page count. So every
seed measures the same mix of pages, and only pixels, text and layout
change; without this, one seed's extra JPEG 2000 page moves a 14-doc
corpus's pages/s by more than the regression bound.

Analytics inputs are synthetic tables with the testdata schemas
(documents, embeddings, events, orders), drawn from the seed.
"""

from __future__ import annotations

import hashlib
import json
import math
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np

#: Seed the workload shapes are taken from.
REFERENCE_SEED = 0
#: Candidates tried per slot before settling for the closest page count.
MAX_PROBES = 40


@dataclass(frozen=True)
class SubCorpus:
    """Slots ``0 .. base-1`` form the cold pass; the next ``new`` slots
    are new doc_ids for the incremental pass. Doc names carry ``prefix``
    so the sub-corpora of one workload never share a doc_id."""

    prefix: str
    gen: dict
    period: int
    base: int
    new: int
    truncated: tuple[int, ...]
    sample: tuple[int, ...]


#: One extraction workload of two sub-corpora, so that a run pays the
#: JVM start and the set-ups once (see README.md for the time budget).
EXTRACTION = (
    # Byte-heavy scans: 30 base docs with one 150-220 page mega-PDF
    # (slot 29, chunked at 64 pages), the six other classes, one
    # truncated doc that must become an error row, and 4 new doc_ids
    # (about 10%) for the incremental pass. Period 60 keeps class
    # (id % 6), container (id % 3) and mega (id % 30) for all 34 slots.
    SubCorpus(
        prefix="scan", gen=dict(profile="scan", mega_every=30),
        period=60, base=30, new=4, truncated=(12,),
        sample=(0, 1, 2, 3, 4, 5, 12, 29, 30),
    ),
    # Archive codecs: two cycles of the seven scan codecs (the second
    # takes the alternate JBIG2 Huffman, JPX COC and JPX tile profiles),
    # all four crypt handlers (slots 0, 4, 8, 12) and all three Type0
    # font shapes. Period 2016 = lcm(14 codec, 32 crypt, 9 font, 6 class).
    SubCorpus(
        prefix="arch", gen=dict(profile="textual", mega_every=0, jpeg_every=1,
                                encrypt_every=4, cid_every=3),
        period=2016, base=14, new=0, truncated=(),
        sample=(0, 1, 2, 3, 4, 5, 6, 8, 12),
    ),
)


def _pages(doc_id: int, seed: int, sub: SubCorpus) -> int:
    """Page count of ``doc_id`` under ``seed``. It is drawn before any
    raster, codec or crypt choice, so the cheap textual profile without
    codecs gives the same count as the real generator call."""

    from pdf_toolkit_spark.corpus import make_document

    return make_document(doc_id, seed=seed, mega_every=sub.gen["mega_every"],
                         profile="textual")["n_pages"]


def choose_doc_ids(sub: SubCorpus, seed: int) -> list[int]:
    """doc_id per slot for ``seed``: same residues as the slot, same page
    count as under the reference seed (closest, when no candidate of the
    first ``MAX_PROBES`` matches exactly, as for 150-220 page megas)."""

    ids = []
    for slot in range(sub.base + sub.new):
        want = _pages(slot, REFERENCE_SEED, sub)
        best, best_gap = slot, math.inf
        for k in range(MAX_PROBES):
            doc_id = slot + k * sub.period
            gap = abs(_pages(doc_id, seed, sub) - want)
            if gap < best_gap:
                best, best_gap = doc_id, gap
            if gap == 0:
                break
        ids.append(best)
    return ids


def _make_doc(task: tuple) -> tuple:
    """One input row: (doc_id, pdf_bytes, n_pages, reference).
    ``reference`` is the serial extractor's spans as JSON for a doc of
    the check sample (None elsewhere; the JSON string "error" where
    extraction fails, as it must on a truncated doc)."""

    from pdf_toolkit_spark.corpus import corpus_config, make_document
    from pdf_toolkit_spark.extract import extract_document

    name, doc_id, seed, gen, truncate, with_reference = task
    doc = make_document(doc_id, seed=seed, **gen)
    pdf = doc["pdf_bytes"]
    if truncate:
        # the xref and trailer are cut off: parsing must fail
        pdf = pdf[: len(pdf) // 2]
    ref = None
    if with_reference:
        try:
            ref = json.dumps(extract_document(pdf, corpus_config())["spans"])
        except Exception:  # malformed input: the job's error row
            ref = '"error"'
    return name, pdf, doc["n_pages"], ref


def _write_extraction_corpus(seed: int, out: Path, workers: int) -> dict:
    """Writes the ``base`` and ``new`` parquet tables: doc_id, pdf_bytes
    and n_pages (the program's input columns), plus ``reference``.
    Docs are generated by a pool of ``workers`` processes that take the
    next doc as they free up, slow archive docs first. Returns the
    manifest."""

    import multiprocessing

    import pyarrow as pa
    import pyarrow.parquet as pq

    manifest: dict = {"base": [], "new": [], "truncated": [], "sample": [], "groups": {}}
    tasks: dict[str, list[tuple]] = {"base": [], "new": []}
    for sub in EXTRACTION:
        ids = choose_doc_ids(sub, seed)
        # named by slot, not by engine doc_id: the job hash-partitions
        # on doc_id, and names that change with the seed would move
        # the slow docs into different tasks on every seed
        names = [f"{sub.prefix}-{slot:03d}" for slot in range(len(ids))]
        manifest["base"] += names[: sub.base]
        manifest["new"] += names[sub.base :]
        manifest["truncated"] += [names[s] for s in sub.truncated]
        manifest["sample"] += [names[s] for s in sub.sample]
        manifest["groups"][sub.prefix] = names
        for slot, doc_id in enumerate(ids):
            part = "base" if slot < sub.base else "new"
            tasks[part].append((names[slot], doc_id, seed, sub.gen,
                                slot in sub.truncated, slot in sub.sample))
    order = sorted(tasks["base"] + tasks["new"], key=lambda t: not t[0].startswith("arch"))
    with multiprocessing.get_context("spawn").Pool(workers) as pool:
        made = {row[0]: row for row in pool.imap(_make_doc, order, chunksize=1)}
    schema = pa.schema([("doc_id", pa.string()), ("pdf_bytes", pa.binary()),
                        ("n_pages", pa.int32()), ("reference", pa.string())])
    for part, part_tasks in tasks.items():
        rows = [dict(zip(schema.names, made[t[0]])) for t in part_tasks]
        (out / part).mkdir()
        # one file per worker, docs dealt round-robin: the input splits
        # the job starts from, as a corpus written by a parallel job has
        for k in range(min(workers, len(rows))):
            pq.write_table(pa.Table.from_pylist(rows[k::workers], schema),
                           out / part / f"part-{k:05d}.parquet")
    manifest["doc_ids"] = manifest["base"] + manifest["new"]
    manifest["pages"] = {row[0]: row[2] for row in made.values()}
    return manifest


def source_fingerprint(root: Path) -> str:
    """Hash of the engine's Python sources and of this generator: cached
    inputs and their serial reference are regenerated whenever either
    changes."""

    h = hashlib.sha256()
    for path in sorted((root / "pdf_toolkit_spark").rglob("*.py")) + [Path(__file__).resolve()]:
        h.update(str(path.relative_to(root)).encode())
        h.update(path.read_bytes())
    return h.hexdigest()[:12]


WORDS = (
    "the a fast slow big small key value row column table scan filter join "
    "agg group order sort merge hash window batch stream spark query vector "
    "data line part customer"
).split()


def _write_analytics_tables(seed: int, out: Path) -> dict:
    """documents (500 texts over a 30-word vocabulary, 8% near-duplicates
    of earlier docs), embeddings (500 x 64 float32, 10 labels), events
    (10k over 150 users in 30 days) and orders (15k over 1500
    customers), with the testdata column names and types."""

    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 7])
    out.mkdir(parents=True, exist_ok=True)

    n_docs = 500
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.08:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), out / "documents.parquet")

    n_vec, dim = 500, 64
    emb = (rng.standard_normal((n_vec, dim)) * 0.125).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }), out / "embeddings.parquet")

    n_ev = 10_000
    start = datetime(2024, 1, 1)
    # whole seconds, as in testdata: the engine's session gaps count
    # whole seconds and the DuckDB twin's fractional ones
    offsets = np.sort(rng.integers(0, 30 * 86400, n_ev))
    pq.write_table(pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array([start + timedelta(seconds=int(s)) for s in offsets], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n_ev).tolist(),
        "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }), out / "events.parquet")

    n_ord = 15_000
    day0 = datetime(1995, 1, 1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 1500, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
        "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": pa.array([day0 + timedelta(days=int(d)) for d in rng.integers(0, 2404, n_ord)],
                                pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                      n_ord).tolist(),
    }), out / "orders.parquet")
    return {"tables": ["documents", "embeddings", "events", "orders"]}


def ensure_inputs(root: Path, work: Path, workload: str, seed: int, workers: int) -> tuple[Path, dict, bool]:
    """The workload's input directory and manifest, generated on first
    use for this seed and engine source. Returns (dir, manifest,
    generated_now)."""

    out = work / "inputs" / f"{workload}-s{seed}-{source_fingerprint(root)}"
    marker = out / "manifest.json"
    if marker.exists():
        return out, json.loads(marker.read_text()), False
    import shutil

    # this seed's inputs for an older engine source are stale
    for stale in out.parent.glob(f"{workload}-s{seed}-*"):
        shutil.rmtree(stale, ignore_errors=True)
    out.mkdir(parents=True)
    if workload == "extract_mixed":
        manifest = _write_extraction_corpus(seed, out, workers)
    else:
        manifest = _write_analytics_tables(seed, out)
    # written last: a cut-short generation is regenerated next time
    marker.write_text(json.dumps(manifest))
    return out, manifest, True
