"""Seeded inputs for the benchmark workloads.

Everything a workload feeds the program is made here from the ``--seed``
argument: the document corpus, the query texts, the ``/submit``
micro-batches with their duplicate share, and the relational, event and
vector tables the registry entries read. The same seed gives the same
inputs; the program receives only what these functions return.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Word list of the document texts, the same tokens the engine's own
#: fixture corpus uses, so text operators see the same token statistics.
VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
MODALITIES = ("text", "image", "audio")


def doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(20, 40)))


def perturb(text: str, rng: random.Random, tag: str) -> str:
    """A text that is not stored: three words replaced by fresh tokens."""
    words = text.split()
    for i in rng.sample(range(len(words)), 3):
        words[i] = f"{tag}{rng.randrange(10**6)}"
    return " ".join(words)


@dataclass
class Batch:
    rows: list[tuple[int, str, str]]  # (doc_id, text, modality)
    n_fresh: int  # rows whose content was not stored before this batch
    # (text, doc_id) of fresh text-modality rows, to /search after
    probes: list[tuple[str, int]]


class PipelineInputs:
    """Corpus, queries and ``/submit`` batches for the pipeline workload.

    ``dup_share`` of every batch re-submits content already stored under
    a new doc id, so the content-dedup path runs and the expected count
    of stored docs is known in advance."""

    def __init__(self, seed: int, n_docs: int, batch_docs: int,
                 dup_share: float):
        self.rng = random.Random(seed)
        texts: set[str] = set()
        self.corpus: list[tuple[int, str, str]] = []
        while len(self.corpus) < n_docs:
            t = doc_text(self.rng)
            if t not in texts:
                texts.add(t)
                i = len(self.corpus)
                self.corpus.append((i, t, MODALITIES[i % 3]))
        self.stored = list(self.corpus)
        self.texts = texts
        self.batch_docs = batch_docs
        self.n_dup = round(batch_docs * dup_share)
        self.next_id = n_docs

    def stored_text_docs(self) -> list[tuple[int, str, str]]:
        return [r for r in self.stored if r[2] == "text"]

    def queries(self, n: int) -> list[tuple[str, int | None]]:
        """``n`` query texts with the doc each must return first: every
        other one is a stored text-modality doc (expected: that doc), the
        rest perturbed stored texts that no doc holds (expected: None)."""
        docs = self.stored_text_docs()
        out = []
        for i in range(n):
            doc_id, text, _ = self.rng.choice(docs)
            if i % 2 == 0:
                out.append((text, doc_id))
            else:
                out.append((perturb(text, self.rng, "q"), None))
        return out

    def batch(self, probes: int = 1) -> Batch:
        """The next ``/submit`` batch, with ``probes`` of its fresh
        text-modality rows to search for once it is stored."""
        rows = []
        n_fresh = self.batch_docs - self.n_dup
        for j in range(n_fresh):
            t = doc_text(self.rng)
            while t in self.texts:
                t = doc_text(self.rng)
            self.texts.add(t)
            # every third fresh row, from the first, is text-modality
            rows.append((self.next_id, t, MODALITIES[j % 3]))
            self.next_id += 1
        for _, t, m in self.rng.sample(self.stored, self.n_dup):
            rows.append((self.next_id, t, m))
            self.next_id += 1
        self.stored.extend(rows[:n_fresh])
        probe_rows = rows[:n_fresh:3][:probes]
        if len(probe_rows) < probes:
            raise ValueError(f"{n_fresh} fresh rows hold fewer than "
                             f"{probes} text-modality probes")
        self.rng.shuffle(rows)
        return Batch(rows, n_fresh, [(t, i) for i, t, _ in probe_rows])


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"))


def write_tables(out_dir: str, seed: int, sf: float = 0.01) -> None:
    """Write the registry's ten tables, one parquet file each, with the
    schemas and value domains of the engine's fixture tables (FIXTURES.md)
    at scale factor ``sf``. Row counts scale like the fixture's; values
    come from ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols),
                       os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    put("region", {"r_regionkey": pa.array(np.arange(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(np.arange(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
             "widget"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_part),
                                               rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2)})
    order_days = rng.integers(0, 2400, n_ord)
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", order_days * 86400.0),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(okey)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    put("lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(np.arange(n_line) - starts + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100,
        "l_tax": rng.integers(0, 9, n_line) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-01", (np.repeat(order_days, lines)
                                         + rng.integers(1, 122, n_line))
                          * 86400.0)})
    gaps = rng.uniform(0, 2 * 30 * 86400 / n_events, n_events)
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": rng.integers(0, 150, n_events),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_events),
        "value": money(0.01, 500, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    # documents and embeddings keep the fixture's fixed 500 rows at every
    # scale; a few texts are near-copies, so the dedup entries find pairs
    trng = random.Random(seed)
    texts = [doc_text(trng) for _ in range(500)]
    for i in range(0, 500, 20):
        words = texts[i].split()
        words[trng.randrange(len(words))] = "dup"
        texts[i + 1] = " ".join(words)
    put("documents", {
        "doc_id": np.arange(500, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "es", "fr", "zh"], 500),
        "source": [f"src{s}" for s in rng.integers(0, 20, 500)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.normal(size=(500, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(500, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, 500), pa.int32())})
