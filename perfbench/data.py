"""Seeded benchmark inputs, built once into a cache inside the checkout.

Two kinds of input:

- ``contract_tables``: the ten TPC-H-ish + LLM-pipeline tables the
  contract queries read (region … embeddings). ``write_contract_tables``
  regenerates the repository's seed-42 reference tables (TESTDATA.md)
  row for row and value for value, so the benchmark reads the reference
  data without reading anything outside its checkout. Built from a FIXED
  seed so the expected digests stored beside the benchmark stay valid.
- ``taxi_trips``: green/yellow raw trips and the 265-row zone lookup from
  the package's own fixture generator (``fixtures._trips`` and
  ``fixtures.make_zone_lookup``), with the trips drawn from the run's
  ``--seed``.

Every cache directory carries a manifest of sha256 checksums; a
directory whose files do not match is rebuilt.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTRACT_SEED = 42
TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()
_MANIFEST = "MANIFEST.json"


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _manifest_ok(out_dir: str) -> bool:
    try:
        with open(os.path.join(out_dir, _MANIFEST)) as fh:
            sums = json.load(fh)
    except (OSError, ValueError):
        return False
    return all(
        os.path.isfile(os.path.join(out_dir, f)) and _sha256(os.path.join(out_dir, f)) == s
        for f, s in sums.items()
    )


def cached(out_dir: str, build) -> float:
    """Make ``out_dir`` hold what ``build(tmp_dir)`` writes, reusing a
    checksum-verified copy when there is one. Returns the build time in
    seconds (0.0 on reuse)."""
    if _manifest_ok(out_dir):
        return 0.0
    t0 = time.perf_counter()
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    sums = {f: _sha256(os.path.join(tmp, f)) for f in sorted(os.listdir(tmp))}
    with open(os.path.join(tmp, _MANIFEST), "w") as fh:
        json.dump(sums, fh, indent=1)
    os.rename(tmp, out_dir)
    return time.perf_counter() - t0


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, n_days + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, type=pa.timestamp("us"))


def _labels(rng, values: list[str], n: int) -> list[str]:
    return list(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


_WORDS = (
    "the a spark query table join group filter window data order customer part "
    "line fast slow big small hash sort merge scan agg stream batch vector key "
    "value row column"
).split()
_ADJ = "red blue small large hot cold old new".split()
_NOUN = "anvil widget gizmo bolt gear plate rod ring".split()


def write_contract_tables(out_dir: str, sf: float) -> None:
    """Write the ten contract tables at scale factor ``sf``: the seed-42
    reference tables of TESTDATA.md, value for value, at sf 0.001, 0.01
    and 0.1. The draw order is part of the format: reordering any draw
    changes every table after it."""
    rng = np.random.default_rng(CONTRACT_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _labels(
            rng, ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _labels(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _labels(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _labels(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _labels(rng, ["R", "A", "N"], n_li),
        "l_linestatus": _labels(rng, ["O", "F"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    ts = np.sort(np.datetime64("2024-01-01", "ns") + (
        rng.uniform(0, 30 * 86_400, n_ev) * 1e9).astype(np.int64).astype("timedelta64[ns]"))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": _labels(rng, ["click", "view", "purchase", "signup", "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), rng.integers(10, 100))])
             for _ in range(n_doc)]
    n_dup = n_doc // 20
    for i, src in zip(rng.choice(n_doc, n_dup, replace=False), rng.integers(0, n_doc, n_dup)):
        texts[i] = texts[src] + " dup"
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _labels(rng, ["en", "en", "en", "de", "fr", "es", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_vec + 1, 64), pa.int32()),
            pa.array(vecs.ravel(), pa.float32()),
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })


def write_taxi_trips(out_dir: str, n_per_service: int, seed: int) -> None:
    """Green/yellow raw trips (``n_per_service`` + 5% full-row
    duplicates each) and the zone-lookup seed CSV, written the way
    ``fixtures.write_taxi_fixtures`` writes them."""
    from taxi_rides_ny_duckdb_spark import fixtures

    rng = np.random.default_rng(seed)
    # µs timestamps: Spark's parquet reader rejects TIMESTAMP(NANOS).
    kw = dict(index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    for name, pickup, dropoff, green in (
            ("green", "lpep_pickup_datetime", "lpep_dropoff_datetime", True),
            ("yellow", "tpep_pickup_datetime", "tpep_dropoff_datetime", False)):
        fixtures._trips(rng, n_per_service, pickup, dropoff, green).to_parquet(
            os.path.join(out_dir, f"{name}_tripdata.parquet"), **kw)
    fixtures.make_zone_lookup().to_csv(os.path.join(out_dir, "taxi_zone_lookup.csv"), index=False)
