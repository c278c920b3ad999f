"""Seeded benchmark inputs, written by every run before Spark starts.

Every generator takes the workload seed; the engine only ever sees the
generated parquet files.  Generation runs in plain Python (numpy and
pyarrow) before the JVM is launched, so it neither warms the JVM that
``setup_s`` measures nor needs a Spark session of its own.  It takes
about 2 s and is reported as ``gen_s`` beside the metrics.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# cut workloads: 8 nodes, 2 ways and 1 relation per document
CUT_DOCS = 2_000
ELEMENTS_PER_DOC = 11
# dedup workload: ~40-token documents, every 20th one a planted near-duplicate
DEDUP_DOCS = 10_000
DEDUP_TOKENS = 40
DEDUP_VOCAB = 30_000
# parquet files per table, so the scan plans several partitions
FILES = 8

# the fixture triangle plus one exclude ring
CUT_RINGS = [
    ("include", [(0.0, 0.0), (5.0, 0.0), (10.0, 5.0)]),
    ("exclude", [(3.0, 0.5), (5.0, 0.5), (5.0, 1.5), (3.0, 1.5)]),
]

SPAN_TYPE = pa.struct([
    pa.field("kind", pa.string(), nullable=False),
    pa.field("text", pa.string()),
    pa.field("media_ref", pa.string()),
    pa.field("offset", pa.int32(), nullable=False),
])
DOCS_SCHEMA = pa.schema([
    pa.field("doc_id", pa.string(), nullable=False),
    pa.field("spans", pa.list_(pa.field("element", SPAN_TYPE, nullable=False)), nullable=False),
])
TEXT_SCHEMA = pa.schema([
    pa.field("doc_id", pa.int64(), nullable=False),
    pa.field("text", pa.string(), nullable=False),
])


def _write(table: pa.Table, path: Path) -> Path:
    """``table`` as ``FILES`` parquet files in directory ``path``."""
    path.mkdir(parents=True)
    step = -(-table.num_rows // FILES)
    for i in range(FILES):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:05d}.parquet")
    return path


def cut_docs(out: Path, seed: int, n_docs: int = CUT_DOCS) -> Path:
    """Interleaved-docs table from the engine's seeded generator
    ``synthesize_osm_docs`` (uniform nodes over a bbox that straddles the
    cut polygon, ways and relations referencing them)."""
    from osm_cut_spark.sources.docs import synthesize_osm_docs

    pdf = synthesize_osm_docs(n_docs, seed=seed)
    spans = [
        [{"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in doc]
        for doc in pdf["spans"]
    ]
    table = pa.table({"doc_id": pdf["doc_id"].tolist(), "spans": spans}, schema=DOCS_SCHEMA)
    return _write(table, out / "cut_docs.parquet")


def cut_poly(out: Path) -> Path:
    """``CUT_RINGS`` as an osmosis .poly file (``!`` marks an exclude ring)."""
    path = out / "cut_triangle_exclude.poly"
    lines = ["perfbench-triangle"]
    for i, (kind, points) in enumerate(CUT_RINGS, 1):
        lines.append(f"{'!' if kind == 'exclude' else ''}{i}")
        lines += [f"  {x!r} {y!r}" for x, y in points]
        lines.append("END")
    path.write_text("\n".join(lines + ["END", ""]))
    return path


def planted_pair(doc_id: int) -> bool:
    """Doc ``doc_id`` is the planted near-duplicate of ``doc_id - 1``."""
    return doc_id % 20 == 1


def dedup_docs(out: Path, seed: int, n_docs: int = DEDUP_DOCS) -> Path:
    """Word-salad text corpus with ~5% planted near-duplicate pairs: doc
    ``20k+1`` repeats doc ``20k``'s tokens plus one extra token (the
    corpus shape of ``bench.py --dedup-scaling``, seeded)."""
    words = np.random.default_rng(seed).integers(0, DEDUP_VOCAB, (n_docs, DEDUP_TOKENS))
    texts = []
    for doc in range(n_docs):
        if planted_pair(doc):
            texts.append(f"{texts[-1]} x{doc}")
        else:
            texts.append(" ".join(f"w{w}" for w in words[doc]))
    table = pa.table({"doc_id": np.arange(n_docs, dtype=np.int64), "text": texts},
                     schema=TEXT_SCHEMA)
    return _write(table, out / "dedup_docs.parquet")
