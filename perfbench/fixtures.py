"""Seeded benchmark inputs.

Every input is a pure function of ``(seed, size)``: the same pair gives
byte-identical files, so two commits of a comparison read the same
bytes.  Inputs are written once into a cache directory keyed by
``(kind, seed, size)`` and reused; each ``.dat`` and ``.parquet`` file
carries a SHA-256 checksum in the cache's ``manifest.json``, which the
benchmark records with its result.

Two kinds exist:

* ``fleet`` -- HSDatalog2 IIS3DWB acquisitions written with the
  package's own generator (``sources.synthetic.write_acquisition``):
  one long acquisition plus a fleet of short snapshots spread over
  aliases and days.
* ``corpus`` -- the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registered queries read,
  with the column types of the test corpus (FIXTURES.md section 5).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass, replace

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ODR = 26667.0
SPTS = 64
LONG_ALIAS = "LAF1"
LONG_START = "2025-07-11T16:22:17.000Z"
LONG_NAME = "b_long"

# the test corpus' document vocabulary (31 words, uniform)
VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
US_PER_DAY = 86_400_000_000


@dataclass(frozen=True)
class Acquisition:
    """One generated acquisition: its directory and generator inputs."""

    name: str
    folder: str
    alias: str
    start_time: str
    seconds: float
    seed: int

    @property
    def date_parts(self) -> tuple[int, int, int]:
        y, m, d = self.start_time[:10].split("-")
        return int(y), int(m), int(d)


def sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


CACHE_KEEP = 8  # entries kept; a series of runs uses one seed per run


def _cached(root: str, key: str, build) -> tuple[str, dict]:
    """Build ``root/key`` once; return its path and manifest.  Building
    a new entry evicts all but the ``CACHE_KEEP`` newest."""
    path = os.path.join(root, key)
    manifest = os.path.join(path, "manifest.json")
    if not os.path.exists(manifest):
        if os.path.isdir(root):
            entries = sorted((e for e in os.scandir(root) if e.is_dir()),
                             key=lambda e: e.stat().st_mtime)
            for old in entries[:max(len(entries) - CACHE_KEEP + 1, 0)]:
                shutil.rmtree(old.path, ignore_errors=True)
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        build(tmp)
        sums = {}
        for dirpath, _dirs, files in os.walk(tmp):
            for name in sorted(files):
                full = os.path.join(dirpath, name)
                if name.endswith((".dat", ".parquet")):
                    sums[os.path.relpath(full, tmp)] = sha256(full)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump({"key": key, "sha256": sums}, f, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(manifest) as f:
        return path, json.load(f)


# ------------------------------------------------------------- acquisitions
def fleet_plan(seed: int, long_s: float, n_short: int,
               short_s: float) -> list[Acquisition]:
    """The acquisitions of one fleet, in landing order.

    The long acquisition always lands at ``alias=LAF1/2025-07-11``;
    snapshot ``i`` lands at alias ``LAF{i % 5 + 1}`` on day ``12 + i // 5``,
    so every acquisition owns its Hive partition (the sink overwrites a
    partition per acquisition, as the reference does).  Sample values
    and start hours come from ``seed``.
    """
    if n_short > 20:
        raise ValueError("at most 20 snapshots: 5 aliases x 4 days")
    rng = np.random.default_rng(seed)
    seeds = rng.integers(0, 2**31 - 1, n_short + 1)
    plan = [
        # "b_" sorts after the first snapshot: the gate converts folders
        # in name order, and the first conversion of a micro-batch also
        # pays the batch's listing, so the long one never goes first
        Acquisition(LONG_NAME, "", LONG_ALIAS, LONG_START, long_s,
                    int(seeds[0])),
    ]
    for i in range(n_short):
        alias = f"LAF{i % 5 + 1}"
        day = 12 + i // 5
        hh = int(rng.integers(0, 24))
        plan.append(Acquisition(
            f"{'a' if i == 0 else 'c'}_{i:02d}_{alias}", "", alias,
            f"2025-07-{day:02d}T{hh:02d}:00:00.000Z", short_s,
            int(seeds[i + 1]),
        ))
    return sorted(plan, key=lambda a: a.name)


def build_fleet(root: str, seed: int, long_s: float, n_short: int,
                short_s: float) -> tuple[list[Acquisition], dict]:
    """Write (or reuse) the fleet; returns the acquisitions with their
    cached folders, and the checksum manifest."""
    from gcf_corima_parquet_converter_spark.sources.synthetic import (
        write_acquisition,
    )

    plan = fleet_plan(seed, long_s, n_short, short_s)
    key = f"fleet-seed{seed}-long{long_s:g}-n{n_short}x{short_s:g}"

    def build(tmp: str) -> None:
        for a in plan:
            write_acquisition(
                os.path.join(tmp, a.name), start_time=a.start_time,
                alias=a.alias, n_seconds=a.seconds, odr=ODR, spts=SPTS,
                seed=a.seed,
            )

    path, manifest = _cached(root, key, build)
    return [replace(a, folder=os.path.join(path, a.name)) for a in plan], manifest


def expected_samples(acq: Acquisition) -> np.ndarray:
    """Ground truth of one acquisition: its samples in g, ``(n, 3)``,
    from the same generator call that wrote its ``.dat``."""
    from gcf_corima_parquet_converter_spark.sources.synthetic import (
        make_dat_bytes,
    )

    return make_dat_bytes(n_seconds=acq.seconds, odr=ODR, spts=SPTS,
                          seed=acq.seed)[1]


def n_samples(acq: Acquisition) -> int:
    return int(acq.seconds * ODR) // SPTS * SPTS


# ------------------------------------------------------------------ corpus
def corpus_rows(scale: float) -> dict[str, int]:
    """Row counts at ``scale`` (1.0 = the sf0.01 test corpus' shapes)."""
    base = {"customer": 1_500, "orders": 15_000, "lineitem": 60_000,
            "events": 10_000, "documents": 500, "embeddings": 500}
    return {t: max(int(n * scale), 50) for t, n in base.items()}


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _write_corpus(out: str, seed: int, scale: float) -> None:
    rng = np.random.default_rng(seed)
    n = corpus_rows(scale)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")

    def days(k: int, span: int):
        return pa.array(
            t0 + (rng.integers(0, span, k) * US_PER_DAY).astype("timedelta64[us]"),
            pa.timestamp("us"),
        )

    def pick(values, k):
        return pa.array(np.asarray(values)[rng.integers(0, len(values), k)])

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc, no, nl = n["customer"], n["orders"], n["lineitem"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pick(SEGMENTS, nc),
    })
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pick(("O", "P", "F"), no),
        "o_totalprice": pa.array(np.round(rng.uniform(100.0, 50_000.0, no), 2)),
        "o_orderdate": days(no, 365),
        "o_orderpriority": pick(PRIORITIES, no),
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 2_000, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 100_000.0, nl), 2)),
        "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
        "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
        "l_returnflag": pick(("A", "N", "R"), nl),
        "l_linestatus": pick(("O", "F"), nl),
        "l_shipdate": days(nl, 365),
    })
    ne = n["events"]
    _write(out, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(
            t0 + rng.integers(0, 30 * US_PER_DAY, ne).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, 150, ne).astype(np.int64)),
        "event_type": pick(EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.uniform(0.0, 560.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    nd = n["documents"]
    vocab = np.array(VOCAB)
    wc = rng.integers(10, 101, nd)
    flat = vocab[rng.integers(0, len(vocab), int(wc.sum()))]
    bounds = np.concatenate([[0], np.cumsum(wc)])
    texts = [" ".join(flat[bounds[i]:bounds[i + 1]]) for i in range(nd)]
    for i in rng.integers(0, nd, max(1, nd // 500)):  # planted exact dups
        texts[i] = texts[(i + 1) % nd]
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(len(LANGS), nd, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    # part/supplier: no benchmarked query reads them, but the oracle
    # connection registers every corpus table
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(2_000, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(2_000)]),
        "p_brand": pick([f"Brand#{i}" for i in range(1, 26)], 2_000),
        "p_type": pick(("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL"), 2_000),
        "p_size": pa.array(rng.integers(1, 51, 2_000).astype(np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, 2_000), 2)),
    })
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(100, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(100)]),
        "s_nationkey": pa.array(rng.integers(0, 25, 100).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, 100), 2)),
    })
    nv = n["embeddings"]
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    })


def build_corpus(root: str, seed: int, scale: float) -> tuple[str, dict]:
    """Write (or reuse) the query corpus; returns its directory, laid
    out like the ``sf*`` test corpus dirs (one parquet per table)."""
    return _cached(root, f"corpus-seed{seed}-scale{scale:g}",
                   lambda tmp: _write_corpus(tmp, seed, scale))
