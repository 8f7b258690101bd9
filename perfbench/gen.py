"""Seeded input generator for the benchmark workloads.

Writes the ten tables the program reads (`Tables.names`) as parquet, with
the schemas and value distributions of the TPC-H-like fixture family the
program is tested on (FIXTURES.md, section B): uniform keys and measures,
a 31-word document vocabulary with 5% near-duplicate documents, unit-norm
64-d embeddings. The generator synthesises every table at its target
size directly instead of replicating a smaller copy, so it needs no input
but the seed and reads nothing outside the benchmark's own directory.

The seed fixes every value, the row order of every table (rows are
shuffled) and its file split (each table is a directory of 1-4 parquet
part files). Same seed, same bytes.
"""
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

# Scale factor per workload, scaling the relational tables and events the
# way the fixture family scales (sf0.1 = 600k lineitem rows). No current
# workload reads documents or embeddings; they are written at a fixed
# small size so every table the program knows exists.
WORKLOADS = {"etl_pipeline": 0.01, "iterative": 0.001}
N_DOCUMENTS = N_EMBEDDINGS = 500

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = (["en"] * 41) + (["de"] * 15) + (["es"] * 15) + (["fr"] * 15) + (["zh"] * 14)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000


def _days(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def _ts_days(rng, n, lo, hi):
    """Midnight timestamps (microseconds) uniform over [lo, hi] days."""
    return rng.integers(lo, hi + 1, n).astype(np.int64) * US_PER_DAY


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(rng, sf):
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_doc, n_vec = N_DOCUMENTS, N_EMBEDDINGS
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts_us = pa.timestamp("us")

    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS, s)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99), f64)})
    names = np.char.add(np.char.add(rng.choice(PART_ADJ, n_part), " "),
                        rng.choice(PART_NOUN, n_part))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500_000.0), f64),
        "o_orderdate": pa.array(_ts_days(rng, n_ord, _days(1995, 1, 1), _days(2001, 8, 1)), ts_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), f64),
        "l_extendedprice": pa.array(_money(rng, n_line, 900.0, 105_000.0), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_ts_days(rng, n_line, _days(1995, 1, 2), _days(2001, 11, 4)), ts_us)})
    start = _days(2024, 1, 1) * US_PER_DAY
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * US_PER_DAY, n_evt)), ts_us),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s)})
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32)})
    return t


def _documents(rng, n):
    """Word-soup documents; every 20th document repeats an earlier one with
    a trailing "dup" token, so near-duplicate structure grows with n."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for i, k in enumerate(lengths):
        if i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[w] for w in words[pos:pos + k]))
        pos += k
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})


def _write(rng, name, table, out_dir):
    """Shuffle the rows and split them over 1-4 part files."""
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    parts = int(rng.integers(1, 5))
    tdir = out_dir / f"{name}.parquet"
    tdir.mkdir(parents=True)
    bounds = np.linspace(0, table.num_rows, parts + 1).astype(int)
    for i in range(parts):
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]),
                       tdir / f"part-{i:05d}.parquet")
    size = sum(f.stat().st_size for f in tdir.iterdir())
    return {"rows": table.num_rows, "bytes": size, "files": parts}


def generate(workload, seed, out_dir):
    """Generate `workload`'s inputs for `seed` under `out_dir` (reused when
    an earlier call wrote the same inputs). Returns the input manifest:
    rows, bytes and files of every table."""
    out_dir = Path(out_dir)
    manifest_file = out_dir / "manifest.json"
    if manifest_file.exists():
        manifest = json.loads(manifest_file.read_text())
        if (manifest.get("generator_version") == GENERATOR_VERSION
                and manifest.get("sf") == WORKLOADS[workload]):
            return manifest
    if out_dir.exists():
        shutil.rmtree(out_dir)
    tmp = out_dir.with_name(out_dir.name + ".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    sf = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    tables = {name: _write(rng, name, table, tmp)
              for name, table in _tables(rng, sf).items()}
    manifest = {"generator_version": GENERATOR_VERSION, "workload": workload,
                "seed": seed, "sf": sf, "tables": tables}
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    os.replace(tmp, out_dir)
    return manifest
