"""Seeded input generation for the benchmark workloads.

Everything the program reads is made here from the run's seed: the
TPC-H-style fixture tables (same schema as the engine's test fixtures),
the `documents` corpus the curation operators run on, the raw files the
schema-on-read queries scan, and the NDJSON batches the ingest cycle
converts. The same seed gives byte-identical inputs.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "de", "fr", "es", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("large", "hot", "blue", "ring", "bolt", "steel", "green", "small")
PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "PROMO", "MEDIUM")
DAY0 = np.datetime64("1995-01-01", "ms")
DAY_MS = 86_400_000


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _days(rng: np.random.Generator, n: int, span: int) -> np.ndarray:
    return DAY0 + rng.integers(0, span, n).astype("int64") * DAY_MS


def gen_tpch(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write region/nation/customer/supplier/part/orders/lineitem parquet
    under ``out_dir``; returns row counts per table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions}), f"{out_dir}/region.parquet")
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           f"{out_dir}/nation.parquet")
    ck = np.arange(n_cust, dtype="int64")
    _write(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    sk = np.arange(n_supp, dtype="int64")
    _write(pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    pk = np.arange(n_part, dtype="int64")
    w = np.array(PART_WORDS)
    _write(pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(w[rng.integers(0, 8, n_part)], " "),
                              w[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (pk % 2000) / 10.0, 2),
    }), f"{out_dir}/part.parquet")
    ok = np.arange(n_ord, dtype="int64")
    _write(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(800, 450_000, n_ord), 2),
        "o_orderdate": pa.array(_days(rng, n_ord, 2404), pa.timestamp("ms")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    lk = np.repeat(ok, lines)
    ln = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(pa.table({
        "l_orderkey": lk,
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, 2500), pa.timestamp("ms")),
    }), f"{out_dir}/lineitem.parquet")
    return {"customer": n_cust, "supplier": n_supp, "part": n_part,
            "orders": n_ord, "lineitem": n_li}


def _texts(rng: np.random.Generator, n: int) -> list[str]:
    """Word-soup documents of 8..96 words (about 300 characters on
    average), with ~2% exact copies and ~3% copies carrying a `dup`
    suffix, so the dedup operators find real duplicates."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 97)))]))
    return texts


def gen_documents(out_dir: str, n_docs: int, seed: int) -> int:
    """Write ``documents.parquet`` (doc_id, text, lang, source, n_chars)."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    texts = _texts(rng, n_docs)
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }), f"{out_dir}/documents.parquet")
    return n_docs


def _ndjson(path: str, rows: list[dict]) -> int:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return os.path.getsize(path)


def _event_rows(rng: np.random.Generator, n: int, start: int, extra: bool) -> list[dict]:
    """Click-stream records; ``extra`` adds the `region` field that
    older files lack (schema drift across files of one table)."""
    kinds = ("view", "click", "cart", "buy")
    rows = []
    for i in range(n):
        r = {"id": start + i, "uid": int(rng.integers(0, 500)),
             "kind": kinds[int(rng.integers(0, 4))],
             "cents": int(rng.integers(1, 100_000))}
        if extra:
            r["region"] = f"r{int(rng.integers(0, 8))}"
        rows.append(r)
    return rows


def gen_raw(out_dir: str, seed: int, rows_per_file: int) -> dict:
    """Raw schema-on-read inputs: an NDJSON directory whose later files
    add a field, a headerless CSV directory (read as `columns[n]`), and a
    nested JSON file with struct and array fields. Returns file sizes."""
    rng = np.random.default_rng([seed, 3])
    sizes: dict[str, list[int]] = {"ndjson": [], "csv": [], "nested": []}
    nd = os.path.join(out_dir, "events_ndjson")
    os.makedirs(nd, exist_ok=True)
    for k in range(4):
        sizes["ndjson"].append(_ndjson(
            os.path.join(nd, f"part{k}.json"),
            _event_rows(rng, rows_per_file, k * rows_per_file, extra=k >= 2)))
    cd = os.path.join(out_dir, "sales_csv")
    os.makedirs(cd, exist_ok=True)
    for k in range(2):
        p = os.path.join(cd, f"part{k}.csv")
        with open(p, "w") as f:
            for i in range(rows_per_file):
                f.write(f"{k * rows_per_file + i},s{int(rng.integers(0, 40))},"
                        f"{int(rng.integers(1, 50))},{int(rng.integers(100, 99_999))}\n")
        sizes["csv"].append(os.path.getsize(p))
    rows = []
    for i in range(rows_per_file):
        rows.append({
            "id": i,
            "profile": {"city": f"c{int(rng.integers(0, 30))}",
                        "tier": int(rng.integers(1, 4))},
            "scores": [int(x) for x in rng.integers(0, 100, int(rng.integers(1, 6)))],
        })
    os.makedirs(os.path.join(out_dir, "people_json"), exist_ok=True)
    sizes["nested"].append(_ndjson(os.path.join(out_dir, "people_json", "people.json"), rows))
    return sizes


def gen_batches(out_dir: str, seed: int, n_batches: int, rows: int) -> list[int]:
    """NDJSON batches for the ingest cycle; every third batch onward
    carries the `region` field the earlier ones lack."""
    rng = np.random.default_rng([seed, 4])
    os.makedirs(out_dir, exist_ok=True)
    return [_ndjson(os.path.join(out_dir, f"batch{b:04d}.json"),
                    _event_rows(rng, rows, b * rows, extra=b % 3 == 2))
            for b in range(n_batches)]
