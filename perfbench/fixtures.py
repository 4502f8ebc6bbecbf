"""Seeded fixture generators for the benchmark, written with pyarrow only.

Two families:

- ``write_tables``: the analytic star schema the query modules read
  (``region .. lineitem``, ``events``, ``documents``, ``embeddings``), one
  parquet file per table, with the column types and value domains of the
  tables described in FIXTURES.md section A.
- ``build_big_leaf`` / ``build_many_leaves``: Hive-partitioned compaction
  lakes in the layouts of FIXTURES.md section B. Each leaf comes with the
  data-file count the compaction contract predicts after a pass, computed
  here from the fixture's own design and not from the compactor's code.

The same seed always gives byte-identical parquet files; file sizes and
row counts do not depend on the seed, so every seed does the same work.
"""

from __future__ import annotations

import os
import shutil
import time
import uuid
from dataclasses import dataclass
from datetime import datetime, timezone
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY = 86400
OLD_AGE_S = 10 * DAY  # older than the compactor's 5-day hold-back

WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()


def _ts_us(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    offs = rng.integers(0, days, n, dtype=np.int64) * (DAY * 1_000_000)
    return pa.array(base + offs, type=pa.timestamp("us"))


def lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int,
             n_supps: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supps, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["R", "A", "N"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts_us(rng, n, "1995-01-02", 2499),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Documents whose lengths and near-duplicate positions do not depend
    on the seed (only the words do), so every seed gives the similarity
    joins the same amount of work. Every twentieth document is a
    near-duplicate of an earlier one, marked as in TESTDATA.md's tables: a
    prefix of the original plus "dup"."""
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 0:
            src = texts[i - 7].split()
            texts.append(" ".join(src[: max(4, len(src) * 4 // 5)] + ["dup"]))
        else:
            k = 8 + (i * 37) % 82
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs[np.arange(n) % len(langs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0.0, 0.15, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.12, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels),
    })


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int) -> dict[str, int]:
    """Write the ten analytic tables at scale ``sf`` with ``n_docs`` rows
    each in ``documents`` and ``embeddings``; returns rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    segments = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    ptypes = np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])
    adj = np.array(["small", "red", "cold", "large", "big", "blue", "hot", "green"])
    noun = np.array(["widget", "ring", "bolt", "nut", "gear", "pipe", "valve", "box"])
    ev_types = np.array(["signup", "error", "click", "view", "purchase"])
    ev_base = np.datetime64("2024-01-01", "us").astype(np.int64)
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": pa.array(segments[rng.integers(0, 5, n_cust)]),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(np.char.add(np.char.add(
                adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)])),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(ptypes[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
            "o_orderdate": _ts_us(rng, n_ord, "1995-01-01", 2399),
            "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)]),
        }),
        "lineitem": lineitem(rng, n_line, n_ord, n_part, n_supp),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": pa.array(np.sort(ev_base + rng.integers(0, 30 * DAY * 1_000_000, n_ev)),
                           type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 150, n_ev, dtype=np.int64)),
            "event_type": pa.array(ev_types[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_docs),
    }
    for name, table in tables.items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# Compaction lakes
# ---------------------------------------------------------------------------


CHUNKED_ROWS = 1_000_000  # the reference's rows per output chunk


def merged_files(rows: int) -> tuple[int, int]:
    """Data files one merge may produce, as (fewest, most).

    The reference writes ceil(rows / 1M) chunks. Spark packs whole input
    files into read splits, so a merge of many files can leave one
    remainder split (FIXTURES.md: output count "approximately" the plan);
    a merge that fits one chunk must give exactly one file."""
    need = max(1, -(-rows // CHUNKED_ROWS))
    return (1, 1) if need == 1 else (need, need + 1)


@dataclass
class Leaf:
    """One leaf directory of a generated lake and what a pass must do to it."""

    rel: str  # path relative to the lake root, ending with "/"
    kind: str
    files_after: tuple[int, int]  # data files allowed after the first pass
    compacts: bool  # whether the first pass merges this leaf


@dataclass
class Lake:
    pristine: str  # generated once; never handed to the compactor
    leaves: list[Leaf]
    bytes_in: int  # bytes of the files a first pass merges
    files_in: int


def _write_chunk(path: Path, table: pa.Table, mtime: float) -> int:
    pq.write_table(table, path, compression="snappy")
    os.utime(path, (mtime, mtime))
    return path.stat().st_size


def build_big_leaf(root: str, seed: int, n_files: int, rows_per_file: int) -> Lake:
    """One ``source=OCP/year=2020/month=01`` leaf of ``n_files`` small files.

    Eight distinct chunk tables are generated and each file is a copy of
    one of them: a merge's cost depends on bytes, not on row uniqueness,
    and copying keeps set-up small."""
    rng = np.random.default_rng(seed)
    rel = "acct0/source=OCP/year=2020/month=01/"
    leaf = Path(root) / rel
    leaf.mkdir(parents=True)
    old = time.time() - OLD_AGE_S
    templates = [lineitem(rng, rows_per_file, 150_000, 20_000, 1_000) for _ in range(8)]
    total = 0
    first: list[Path] = []
    for i in range(n_files):
        dst = leaf / f"chunk_{i:05d}.parquet"
        if i < len(templates):
            total += _write_chunk(dst, templates[i], old)
            first.append(dst)
        else:
            shutil.copyfile(first[i % len(first)], dst)
            os.utime(dst, (old, old))
            total += dst.stat().st_size
    return Lake(root, [Leaf(rel, "many_small", merged_files(n_files * rows_per_file), True)],
                total, n_files)


def build_many_leaves(root: str, seed: int, slots, rows_per_file: int) -> Lake:
    """Leaves mixing the FIXTURES.md section B kinds, one per slot number.

    Per block of ten slots: six plain leaves of four old files
    (OCP/AWS/Azure), one GCP leaf (two dates x two files, rename commit),
    one already-compacted leaf (two prior outputs plus two new files),
    one fresh leaf (hold-back) and one current-month AWS leaf (skipped).
    """
    rng = np.random.default_rng(seed)
    now = datetime.now(timezone.utc)
    old = time.time() - OLD_AGE_S
    leaves: list[Leaf] = []
    bytes_in = files_in = 0

    def chunk() -> pa.Table:
        return lineitem(rng, rows_per_file, 150_000, 20_000, 1_000)

    for i in slots:
        acct = f"acct{i // 10}"
        slot = i % 10
        month = 1 + i % 12
        if slot < 6:
            src = ("OCP", "AWS", "Azure")[slot % 3]
            rel = f"{acct}/source={src}/year=2020/month={month:02d}/"
            names = [f"part-{j:05d}.parquet" for j in range(4)]
            kind, after, compacts = "many_small", (1, 1), True
            mtimes = [old] * 4
        elif slot == 6:
            rel = f"{acct}/source=GCP/year=2020/month={month:02d}/"
            names = [f"2020{month:02d}_2020-{month:02d}-{d:02d}_{j}.parquet"
                     for d in (3, 4) for j in range(2)]
            kind, after, compacts = "gcp_dates", (2, 2), True
            mtimes = [old] * 4
        elif slot == 7:
            rel = f"{acct}/source=OCP/year=2021/month={month:02d}/"
            names = [f"OCP_{uuid.UUID(int=int(rng.integers(1 << 62))).hex}.parquet"
                     for _ in range(2)] + ["new-0.parquet", "new-1.parquet"]
            # The older prior output is left alone; the newest is re-merged
            # with the two new files into one output.
            kind, after, compacts = "recompact", (2, 2), True
            mtimes = [old - 2 * DAY, old - DAY, old, old]
        elif slot == 8:
            rel = f"{acct}/source=OCP/year=2022/month={month:02d}/"
            names = ["fresh-0.parquet", "fresh-1.parquet"]
            kind, after, compacts = "fresh_holdback", (2, 2), False
            mtimes = [time.time()] * 2
        else:
            rel = f"{acct}/source=AWS/year={now:%Y}/month={now:%m}/"
            names = [f"part-{j:05d}.parquet" for j in range(3)]
            kind, after, compacts = "skip_current_month", (3, 3), False
            mtimes = [old] * 3
        leaf = Path(root) / rel
        leaf.mkdir(parents=True)
        for name, mtime in zip(names, mtimes):
            size = _write_chunk(leaf / name, chunk(), mtime)
            if compacts and not (kind == "recompact" and name == names[0]):
                bytes_in += size
                files_in += 1
        leaves.append(Leaf(rel, kind, after, compacts))
    return Lake(root, leaves, bytes_in, files_in)


def add_new_files(lake_dir: str, lake: Lake, seed: int, fraction: float,
                  rows_per_file: int) -> list[str]:
    """Drop two old-dated new files into ``fraction`` of the compacted
    plain leaves (the daily arrivals before a re-pass). Returns the
    leaves touched."""
    rng = np.random.default_rng(seed + 1)
    old = time.time() - OLD_AGE_S
    plain = [lf for lf in lake.leaves if lf.kind == "many_small"]
    touched = plain[: max(1, round(len(plain) * fraction))]
    for lf in touched:
        for j in range(2):
            t = lineitem(rng, rows_per_file, 150_000, 20_000, 1_000)
            _write_chunk(Path(lake_dir) / lf.rel / f"arrival-{j}.parquet", t, old)
    return [lf.rel for lf in touched]


def clone_lake(src: str, dst: str) -> None:
    """Hard-link copy of a pristine lake: the compactor deletes originals
    by unlinking, which leaves the pristine copy intact, and no data
    bytes are copied. Modification times are shared with the source."""
    shutil.copytree(src, dst, copy_function=os.link)
