"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files. The program under test only ever
sees those files; the in-memory copies returned here are the ground
truth the output checks compare against.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq


def _write(df: pd.DataFrame, path: str, schema: pa.Schema | None = None) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


# ---------------------------------------------------------------- grid


@dataclass
class GridCorpus:
    ids: np.ndarray  # int64[n]
    labels: np.ndarray  # int64[n]
    vecs: np.ndarray  # float64[n, d], unit rows


def grid_corpus(seed: int, n: int, d: int, out_dir: str) -> GridCorpus:
    """Labelled, clustered, unit-norm vectors for the (k, tau) grid.

    Labels come in families of two whose centres sit close together, so
    at the larger tau values some discovered pairs cross labels (false
    positives), while per-label spreads drawn from a range put the
    within-label distances across the whole reference tau grid
    {0.1 .. 0.4}: every grid cell has a different, non-zero F1.
    Label sizes vary from 4 to 36 so k = 5, 10 and 25 slice differently.
    """
    rng = np.random.default_rng(seed)
    sizes: list[int] = []
    while sum(sizes) < n:
        sizes.append(int(rng.integers(4, 37)))
    sizes[-1] -= sum(sizes) - n
    if sizes[-1] < 2:
        last = sizes.pop()
        sizes[-1] += last
    vecs = np.empty((n, d))
    labels = np.empty(n, dtype=np.int64)
    pos = 0
    fam_centre = None
    for lab, size in enumerate(sizes):
        if lab % 2 == 0:
            fam_centre = rng.standard_normal(d)
            fam_centre /= np.linalg.norm(fam_centre)
        centre = fam_centre + 0.16 * rng.standard_normal(d) / np.sqrt(d)
        centre /= np.linalg.norm(centre)
        spread = rng.uniform(0.05, 0.26)
        pts = centre + spread * rng.standard_normal((size, d)) / np.sqrt(2 * d)
        vecs[pos : pos + size] = pts / np.linalg.norm(pts, axis=1, keepdims=True)
        labels[pos : pos + size] = lab
        pos += size
    # shuffle so labels are not contiguous in id order
    perm = rng.permutation(n)
    vecs, labels = vecs[perm], labels[perm]
    ids = np.arange(n, dtype=np.int64)
    os.makedirs(out_dir, exist_ok=True)
    _write(
        pd.DataFrame({"vec_id": ids, "label": labels, "embedding": list(vecs)}),
        os.path.join(out_dir, "embeddings.parquet"),
        pa.schema(
            [
                ("vec_id", pa.int64()),
                ("label", pa.int64()),
                ("embedding", pa.list_(pa.float64())),
            ]
        ),
    )
    return GridCorpus(ids, labels, vecs)


# ---------------------------------------------------------------- lake


@dataclass
class Lake:
    tables: dict[str, pd.DataFrame]
    #: planted key/foreign-key column pairs, ("table.col", "table.col")
    truth: list[tuple[str, str]]


_WORDS = np.array(
    "alpha bravo cedar delta ember fjord grove harbor iris juniper kestrel "
    "lumen maple nectar onyx pewter quartz raven sable tundra umber violet "
    "willow xenon yarrow zephyr".split()
)


def _codes(rng, n: int, prefix: str, null_frac: float = 0.0) -> list:
    words = rng.choice(_WORDS, size=n)
    nums = rng.integers(0, 10_000, size=n)
    out = [f"{prefix}{w}-{x}" for w, x in zip(words, nums)]
    if null_frac:
        for i in np.nonzero(rng.random(n) < null_frac)[0]:
            out[i] = None
    return out


def lake(seed: int, n_fact: int, n_dim: int, n_lookup: int, fact_rows: int,
         dim_rows: int, lookup_rows: int, out_dir: str) -> Lake:
    """A small data lake of fact, dimension and lookup tables, with
    foreign keys planted from every fact table into two dimensions and
    from every dimension into two lookups.

    Table-size mix: ``n_fact`` fact tables of ``fact_rows`` rows with
    skewed foreign keys, ``n_dim`` dimension tables of about
    ``dim_rows`` rows and ``n_lookup`` lookup tables of about
    ``lookup_rows`` rows. Columns are int64 or string only, so the
    string form Spark profiles equals Python's ``str`` of the value.
    Some string columns carry NULLs.
    """
    rng = np.random.default_rng(seed)
    tables: dict[str, pd.DataFrame] = {}
    truth: list[tuple[str, str]] = []

    lookups = ["region", "currency", "channel", "segment", "status", "unit"][:n_lookup]
    for i, name in enumerate(lookups):
        n = lookup_rows + int(rng.integers(0, lookup_rows // 2 + 1))
        tables[f"lk_{name}"] = pd.DataFrame(
            {
                f"{name}_code": np.arange(100 * (i + 1), 100 * (i + 1) + n, dtype=np.int64),
                f"{name}_label": _codes(rng, n, name[:2]),
                "sort_order": rng.integers(0, 50, size=n).astype(np.int64),
            }
        )

    dims = ["customer", "product", "store", "supplier"][:n_dim]
    for d_no, name in enumerate(dims):
        n = dim_rows + int(rng.integers(0, dim_rows // 4 + 1))
        cols = {
            f"{name}_id": rng.permutation(np.arange(1, n + 1, dtype=np.int64) * 7),
            f"{name}_name": _codes(rng, n, name[:3], null_frac=0.02),
            "created_year": rng.integers(1990, 2025, size=n).astype(np.int64),
        }
        for fk in sorted({lookups[d_no % n_lookup], lookups[(d_no + 1) % n_lookup]}):
            ref = tables[f"lk_{fk}"][f"{fk}_code"].to_numpy()
            col = f"{fk}_ref"
            cols[col] = rng.choice(ref, size=n)
            truth.append((f"dim_{name}.{col}", f"lk_{fk}.{fk}_code"))
        tables[f"dim_{name}"] = pd.DataFrame(cols)

    facts = ["sales", "shipments", "returns"][:n_fact]
    for f_no, name in enumerate(facts):
        n = fact_rows
        cols = {f"{name}_id": np.arange(n, dtype=np.int64)}
        for fk in sorted({dims[f_no % n_dim], dims[(f_no + 1) % n_dim]}):
            ref = tables[f"dim_{fk}"][f"{fk}_id"].to_numpy()
            # skewed foreign keys: a few hot dimension rows
            w = rng.pareto(1.5, size=len(ref)) + 1.0
            cols[f"{fk}_key"] = rng.choice(ref, size=n, p=w / w.sum())
            truth.append((f"fact_{name}.{fk}_key", f"dim_{fk}.{fk}_id"))
        cols["quantity"] = rng.integers(1, 100, size=n).astype(np.int64)
        cols["amount_cents"] = rng.integers(100, 1_000_000, size=n).astype(np.int64)
        cols["note"] = _codes(rng, n, "n", null_frac=0.1)
        tables[f"fact_{name}"] = pd.DataFrame(cols)

    os.makedirs(out_dir, exist_ok=True)
    for name, df in tables.items():
        _write(df, os.path.join(out_dir, f"{name}.parquet"))
    return Lake(tables, truth)


# ---------------------------------------------------------------- ann


@dataclass
class AnnSet:
    corpus_ids: np.ndarray
    corpus: np.ndarray
    #: (ids, vecs, parquet path) per ingest batch, in schedule order
    ingests: list[tuple[np.ndarray, np.ndarray, str]]
    #: (ids, vecs, parquet path) per query batch, in schedule order
    queries: list[tuple[np.ndarray, np.ndarray, str]]
    corpus_path: str


def _vec_frame(ids: np.ndarray, vecs: np.ndarray, path: str) -> None:
    _write(
        pd.DataFrame({"vec_id": ids, "embedding": list(vecs)}),
        path,
        pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))]),
    )


def ann_set(seed: int, n_corpus: int, d: int, n_batches: int, ingest_size: int,
            query_size: int, out_dir: str) -> AnnSet:
    """Corpus, ingest batches and query batches for the persisted index.

    All vectors are drawn around the same ``n_corpus // 5`` Gaussian
    centres, so ingested vectors land in existing cells and queries
    have near neighbours. Query ids are disjoint from corpus ids (the
    queries are out of corpus).
    """
    rng = np.random.default_rng(seed)
    centres = rng.standard_normal((max(4, n_corpus // 5), d))

    def draw(m: int) -> np.ndarray:
        pick = rng.integers(0, len(centres), size=m)
        return centres[pick] + 0.8 * rng.standard_normal((m, d))

    os.makedirs(out_dir, exist_ok=True)
    corpus_ids = np.arange(n_corpus, dtype=np.int64)
    corpus = draw(n_corpus)
    corpus_path = os.path.join(out_dir, "corpus.parquet")
    _vec_frame(corpus_ids, corpus, corpus_path)
    ingests, queries = [], []
    next_id = n_corpus
    for b in range(n_batches):
        ids = np.arange(next_id, next_id + ingest_size, dtype=np.int64)
        next_id += ingest_size
        vecs = draw(ingest_size)
        path = os.path.join(out_dir, f"ingest_{b:03d}.parquet")
        _vec_frame(ids, vecs, path)
        ingests.append((ids, vecs, path))
        qids = np.arange(10_000_000 + b * query_size,
                         10_000_000 + (b + 1) * query_size, dtype=np.int64)
        qvecs = draw(query_size)
        path = os.path.join(out_dir, f"query_{b:03d}.parquet")
        _vec_frame(qids, qvecs, path)
        queries.append((qids, qvecs, path))
    return AnnSet(corpus_ids, corpus, ingests, queries, corpus_path)
