"""Seeded inputs: an on-disk file tree with a planted nightly delta, and
the TPC-H-ish parquet tables the query suite reads.

Everything here is a pure function of the seed, so two runs with the same
seed see the same tree, the same deltas and the same tables.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

# Every file lives under one top directory, so the rollup row for
# ``/data`` carries the whole tree's totals (the rollup has no "/" row).
TOP = "data"
EXTENSIONS = ("dat", "txt", "log", "csv", "json", "bin")
# Files' initial mtimes fall in the year before this instant (2026-01-01),
# so a delta's writes "now" are always strictly newer.
MTIME_END = 1_767_225_600


@dataclass(frozen=True)
class Delta:
    added: int
    changed: int
    removed: int


class FileTree:
    """A generated tree plus its ground truth (path -> size)."""

    def __init__(self, root: str, seed: int, n_files: int):
        self.root = root
        self.rng = random.Random(seed)
        self.sizes: dict[str, int] = {}
        self.leaves: list[str] = []
        self._new = 0
        top = os.path.join(root, TOP)
        n_leaves = max(1, n_files // 100)
        n_mid = max(1, round(n_leaves**0.5))
        for i in range(n_leaves):
            leaf = os.path.join(top, f"m{i % n_mid:03d}", f"leaf{i:05d}")
            os.makedirs(leaf)
            self.leaves.append(leaf)
        # Spread n_files over the leaves unevenly (but deterministically).
        weights = [self.rng.uniform(0.5, 1.5) for _ in self.leaves]
        scale = n_files / sum(weights)
        counts = [int(w * scale) for w in weights]
        for i in range(n_files - sum(counts)):
            counts[i % len(counts)] += 1
        for leaf, count in zip(self.leaves, counts):
            for k in range(count):
                ext = self.rng.choice(EXTENSIONS)
                self._create(os.path.join(leaf, f"f{k:04d}.{ext}"))
        for path in list(self.sizes):
            t = MTIME_END - self.rng.randrange(365 * 86400)
            os.utime(path, (t, t))
        self.n_subdirs = n_mid + n_leaves  # directories below /data

    def _create(self, path: str) -> None:
        size = self.rng.randrange(4096)
        with open(path, "wb") as f:
            f.truncate(size)
        self.sizes[path] = size

    @property
    def n_files(self) -> int:
        return len(self.sizes)

    @property
    def total_bytes(self) -> int:
        return sum(self.sizes.values())

    def apply_delta(self, fraction: float = 0.01) -> Delta:
        """Touch ``fraction`` of the files, each at most once: 80% are
        rewritten with a new size, 10% removed, and as many new files
        added. Directory mtimes are put back afterwards, so the planted
        files are the only entries whose (mtime, size) changes."""
        n = max(3, round(fraction * self.n_files))
        n_add = n_rem = max(1, n // 10)
        n_mod = n - n_add - n_rem
        picked = self.rng.sample(sorted(self.sizes), n_mod + n_rem)
        leaves = [self.rng.choice(self.leaves) for _ in range(n_add)]
        touched_dirs = {os.path.dirname(p) for p in picked[n_mod:]} | set(leaves)
        dir_times = {d: os.stat(d) for d in touched_dirs}
        for path in picked[:n_mod]:
            old = self.sizes[path]
            size = (old + 1 + self.rng.randrange(4095)) % 4096
            with open(path, "r+b") as f:
                f.truncate(size)
            self.sizes[path] = size
        for path in picked[n_mod:]:
            os.unlink(path)
            del self.sizes[path]
        for leaf in leaves:
            self._new += 1
            self._create(os.path.join(leaf, f"n{self._new:05d}.dat"))
        for d, st in dir_times.items():
            os.utime(d, ns=(st.st_atime_ns, st.st_mtime_ns))
        return Delta(added=n_add, changed=n_mod, removed=n_rem)


# --------------------------------------------------------------------------
# Query-suite tables
# --------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables the queries read (same names, columns and types
    as the repo's testdata) at scale factor ``sf``.

    Money, quantity, discount, tax and event values are multiples of a
    power of two, so every sum the queries round is exact in binary
    floating point: Spark and the DuckDB oracle agree bit for bit whatever
    order they add in, and no seed lands a sum on a rounding boundary.
    """
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return rng.integers(int(lo * 4), int(hi * 4), n) / 4.0

    def days(start: str, end: str, n: int) -> np.ndarray:
        lo = np.datetime64(start, "D")
        span = (np.datetime64(end, "D") - lo).astype(int)
        return (lo + rng.integers(0, span, n)).astype("datetime64[us]")

    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(50, int(200_000 * sf))
    n_ord = max(200, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(500, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vec = max(100, int(50_000 * sf))

    i32 = pa.int32()
    put("region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": list(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(-999.0, 9999.0, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(-999.0, 9999.0, n_supp),
    })
    adjectives = ("small", "red", "blue", "hot", "old", "new", "big", "green")
    nouns = ("ring", "widget", "bolt", "gear", "anvil", "rod", "nut", "pipe")
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"), n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": money(900.0, 1000.0, n_part),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": days("1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
        ),
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 4, n_line) / 32.0,
        "l_tax": rng.integers(0, 5, n_line) / 64.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("O", "F"), n_line),
        "l_shipdate": days("1995-01-02", "2001-11-04", n_line),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(("view", "click", "purchase", "signup", "error"), n_ev),
        "value": rng.integers(1, 3921, n_ev) / 8.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(WORDS, int(rng.integers(10, 100)))) for _ in range(n_docs)
    ]
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(("en", "de", "fr", "es", "zh"), n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
