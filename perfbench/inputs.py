"""Seeded inputs of the workloads, written to parquet during set-up.

The engine receives only the files written here. Every generator is a pure
function of ``(seed, size)``: the same seed gives byte-identical inputs.

Interleaved documents follow the closed-form span layout that the engine's
DuckDB oracles (``__spark_entry__.oracle_sql()``) assume: every attribute of
a document (position, geometry, media tile refs) is integer arithmetic on its
integer index. The seed picks WHICH indices make up the corpus, so each seed
gives a different set of positions, geometries and referenced tiles while the
oracles stay exact. Exactly 20% of indices (``id % 5 == 0``) fall in one hot
cell, as in the engine's own fixtures.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: acquisition dates of the media spans (the engine's ``DATES``)
DATES = ["2017-01-01", "2017-01-15", "2017-02-01", "2018-01-15"]
#: doc indices are drawn from [0, ID_SPACE); 8 digits keep ``doc_%08d`` ids fixed-width
ID_SPACE = 10_000_000
_NX, _NY = 512, 256  # media tile grid at zoom 8

SPANS_TYPE = pa.list_(
    pa.struct(
        [
            ("kind", pa.string()),
            ("text", pa.string()),
            ("media_ref", pa.string()),
            ("offset", pa.int32()),
        ]
    )
)


def _write_split(table: pa.Table, path: str, n_files: int) -> str:
    """Write ``table`` as ``n_files`` parquet files under ``path`` so that a
    Spark scan yields one partition per file (small files are not packed
    together while each is below the open-cost threshold)."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:])):
        pq.write_table(table.slice(lo, hi - lo), os.path.join(path, f"part-{i:03d}.parquet"))
    return path


def doc_ids(seed: int, n_docs: int) -> np.ndarray:
    """Sorted distinct document indices for ``seed``. Exactly a fifth are
    multiples of 5 (the hot-cell documents), so the hot cell's share of the
    rows, and with it the salting decision, is the same for every seed."""
    rng = np.random.default_rng([seed, 1])
    n_hot = n_docs // 5
    hot = rng.choice(ID_SPACE // 5, size=n_hot, replace=False) * 5
    # k -> the k-th index that is not a multiple of 5
    k = rng.choice(ID_SPACE // 5 * 4, size=n_docs - n_hot, replace=False)
    cold = (k // 4) * 5 + k % 4 + 1
    return np.sort(np.concatenate([hot, cold])).astype(np.int64)


def _doc_spans(i: int) -> list[dict]:
    """Spans of document ``i`` — the closed-form layout of the engine's
    ``sources.interleaved`` module, restated here so the benchmark owns its
    input generator."""
    hot = i % 5 == 0
    lon_e4 = 40000 + (i * 7919) % 7000 if hot else -1800000 + ((i * 48271) % 36000) * 100
    lat_e4 = 507000 + (i * 104729) % 7000 if hot else -900000 + ((i * 69621) % 18000) * 100
    lon, lat = lon_e4 / 10000.0, lat_e4 / 10000.0
    half = (500 + (i % 5) * 100) / 10000.0
    if i % 3 == 0:
        geo = f'{{"type": "Point", "coordinates": [{lon:.4f}, {lat:.4f}]}}'
    else:
        x0, x1 = f"{lon - half:.4f}", f"{lon + half:.4f}"
        y0, y1 = f"{lat - half:.4f}", f"{lat + half:.4f}"
        geo = (
            '{"type": "Polygon", "coordinates": [[['
            f"{x0}, {y0}], [{x1}, {y0}], [{x1}, {y1}], [{x0}, {y1}], [{x0}, {y0}]]]}}"
        )
    tcol = ((lon_e4 + 1800000) * _NX) // 3600000
    trow = ((900000 - lat_e4) * _NY) // 1800000
    spans = []
    for j in range(2 + i % 4):
        is_text = (i + j) % 3 < 2
        text = media = None
        if is_text:
            if j <= 1 or (i + j) % 2 == 0:
                text = geo
            else:
                text = f"filler text {i * 31 + j} lorem ipsum"
        else:
            media = f"tile://8/{tcol}/{trow}/{DATES[(i + j) % 4]}/B{j % 2}"
        spans.append(
            {"kind": "text" if is_text else "media", "text": text,
             "media_ref": media, "offset": j * 20 + i % 13}
        )
    return spans


def write_docs(path: str, ids: np.ndarray, n_files: int) -> str:
    """Interleaved-document table ``(doc_id, spans)`` for the given indices."""
    table = pa.table(
        {
            "doc_id": pa.array([f"doc_{i:08d}" for i in ids], pa.string()),
            "spans": pa.array([_doc_spans(int(i)) for i in ids], SPANS_TYPE),
        }
    )
    return _write_split(table, path, n_files)


#: share of the text corpus that is a near-copy of an earlier document
NEAR_DUP_SHARE = 0.2
#: share of words replaced in a near-copy; trigram Jaccard of a copy to its
#: source then centres near 0.6, so most copies pass the 0.5 verify threshold
#: and some fall below it
EDIT_SHARE = 0.06


def text_corpus(seed: int, n_docs: int) -> tuple[np.ndarray, list[str]]:
    """(doc_id, text): random word sequences over a 3000-word vocabulary, of
    which ``NEAR_DUP_SHARE`` are near-copies of an earlier document (and so
    chains and small groups of copies form)."""
    rng = np.random.default_rng([seed, 2])
    vocab = np.array([f"w{k:04d}" for k in range(3000)])
    texts: list[np.ndarray] = []
    for k in range(n_docs):
        if k > 0 and rng.random() < NEAR_DUP_SHARE:
            src = texts[int(rng.integers(0, k))].copy()
            edits = rng.random(src.size) < EDIT_SHARE
            src[edits] = rng.choice(vocab, size=int(edits.sum()))
            texts.append(src)
        else:
            texts.append(rng.choice(vocab, size=int(rng.integers(30, 90))))
    return np.arange(n_docs, dtype=np.int64), [" ".join(t) for t in texts]


def write_text(path: str, ids: np.ndarray, texts: list[str], n_files: int) -> str:
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())})
    return _write_split(table, path, n_files)


def cube_coefficients(seed: int) -> tuple[int, ...]:
    """Per-seed pixel formula coefficients of the ``cube`` workload (see
    ``reference.cube_value``)."""
    rng = np.random.default_rng([seed, 3])
    return tuple(int(v) for v in rng.integers(1, 60, size=7))
