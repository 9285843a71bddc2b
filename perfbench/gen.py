"""Seeded input generator for the benchmark workloads.

Everything the program reads in a benchmark run comes from here: a
TPC-H-shaped star (the repository's testdata schema: region, nation, customer,
supplier, part, orders, lineitem) and a document corpus with per-epoch
ingest batches whose near-duplicates are planted and recorded. The same
seed always gives byte-identical inputs: the ingest batches are made
one at a time, on demand, from one random stream, so a run that asks
for more batches sees the same first ones.

Pure numpy/pyarrow, in the style of ``tools/gen_scale.py``: physical
parquet types match the testdata (int32 nation keys, int64 business
keys, µs timestamps), and every table is written with ~64 row groups so
a ``local[N]`` scan gets more than one task.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: star size relative to the testdata's sf1 row counts (see STAR_ROWS)
STAR_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
#: order dates stay inside plans.star's calendar (1995-01-01..2001-12-31)
DATE_LO = np.datetime64("1995-01-01", "us")
DATE_DAYS = 2400

#: near-dup corpus shape
DOC_VOCAB = 6_000
DOC_TOKENS = (40, 90)
#: tokens replaced in a planted near-duplicate: Jaccard of the 3-shingle
#: sets stays >= ~0.7, where the 16x2 LSH misses with p < 1e-5
DUP_EDITS = (1, 3)
LANGS = ["en", "de", "fr", "es", "zh"]


def _row_group(n: int) -> int:
    return min(1_000_000, max(8_192, n // 64))


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path, row_group_size=_row_group(table.num_rows))
    return os.path.getsize(path)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_star(out_dir: str, seed: int, sf: float) -> dict:
    """Write the seven star tables under ``out_dir``; return
    ``{"rows": {table: n}, "bytes": {table: n}}``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(1, int(r * sf)) for t, r in STAR_ROWS.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
        "r_name": REGIONS,
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % len(REGIONS) for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    })
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = n["part"]
    names = np.char.add(
        np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, npart)], " "),
        np.array(PART_NOUN)[rng.integers(0, 8, npart)],
    )
    retail = np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": retail,
    })
    no = n["orders"]
    odate = DATE_LO + rng.integers(0, DATE_DAYS, no).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    })
    nl = n["lineitem"]
    okey = rng.integers(0, no, nl, dtype=np.int64)
    pkey = rng.integers(0, npart, nl, dtype=np.int64)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, nl).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, ns, nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl, dtype=np.int32)),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    out = {"rows": {}, "bytes": {}}
    for name, t in tables.items():
        out["bytes"][name] = _write(t, f"{out_dir}/{name}.parquet")
        out["rows"][name] = t.num_rows
    return out


def _vocab(rng: np.random.Generator) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 9, DOC_VOCAB)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens}
    return np.array(sorted(words))


def _docs_table(ids: np.ndarray, texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids.astype(np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array(np.char.add("src", rng.integers(0, 20, n).astype(str))),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _random_docs(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[list[str]]:
    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, n)
    flat = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, at = [], 0
    for k in lens:
        out.append(list(flat[at:at + k]))
        at += k
    return out


class Corpus:
    """The ingest workload's inputs: a base corpus of ``base_docs``
    unrelated documents, written at construction, and batches of
    ``batch_docs`` fresh documents written by ``add_batch``. In each
    batch ``dup_share`` of the documents are planted near-duplicates of
    distinct base documents (a few tokens replaced), recorded in
    ``planted``. Ids are fresh across base and batches."""

    def __init__(self, out_dir: str, seed: int, base_docs: int, batch_docs: int,
                 dup_share: float) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.dir = out_dir
        self.base_rows = base_docs
        self.batch_docs = batch_docs
        os.makedirs(out_dir, exist_ok=True)
        self.vocab = _vocab(self.rng)
        self.base = _random_docs(self.rng, self.vocab, base_docs)
        self.base_path = f"{out_dir}/base.parquet"
        self.base_bytes = _write(
            _docs_table(np.arange(base_docs), [" ".join(d) for d in self.base], self.rng),
            self.base_path)
        self.n_dup = int(round(batch_docs * dup_share))
        #: base documents in the order batches plant near-dups of them
        self.sources = self.rng.permutation(base_docs)
        self.batch_paths: list[str] = []
        self.batch_bytes: list[int] = []
        #: per epoch: batch doc_id -> base doc_id it was derived from
        self.planted: list[dict[int, int]] = []

    def add_batch(self) -> int:
        """Write the next epoch's batch; return its epoch number."""
        rng, e = self.rng, len(self.batch_paths)
        sources = self.sources[e * self.n_dup:(e + 1) * self.n_dup]
        if len(sources) < self.n_dup:
            raise RuntimeError(f"base corpus too small for {e + 1} batches")
        ids = self.base_rows + e * self.batch_docs + np.arange(self.batch_docs)
        docs = _random_docs(rng, self.vocab, self.batch_docs)
        slots = rng.choice(self.batch_docs, self.n_dup, replace=False)
        planted = {}
        for slot, src in zip(slots, sources):
            doc = list(self.base[src])
            for pos in rng.choice(len(doc), int(rng.integers(*DUP_EDITS, endpoint=True)),
                                  replace=False):
                doc[pos] = self.vocab[rng.integers(0, len(self.vocab))]
            docs[slot] = doc
            planted[int(ids[slot])] = int(src)
        path = f"{self.dir}/batch_{e:03d}.parquet"
        self.batch_bytes.append(_write(_docs_table(ids, [" ".join(d) for d in docs], rng), path))
        self.batch_paths.append(path)
        self.planted.append(planted)
        return e
