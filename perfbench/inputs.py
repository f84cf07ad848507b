"""Seeded input generators for the benchmark workloads.

Everything the program reads is written here from ``numpy`` draws keyed
by the workload seed, so the same seed gives byte-identical inputs and
the program sees only the generated directories.

* ``write_tables`` writes the ten fixture tables (TPC-H shape plus
  ``events``, ``documents`` and ``embeddings``) with the schemas of the
  repository's fixture tables.  ``scale`` multiplies the row counts of
  the sf0.1 fixture set, keeping its ratios (about 40 lineitems per
  customer, so the k-core and PageRank graphs keep their density).
* ``write_snapshots`` writes two snapshot directories of CSV and xlsx
  files in the shape of the reference's FAO snapshots, with renamed,
  added and dropped files, retyped and added/removed columns and
  changed rows, and records every file and mutation in
  ``manifest.json``.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 fixture row counts; ``scale`` multiplies the scalable ones
_SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PADJ = ["large", "hot", "blue", "old", "green", "small", "red", "new"]
_PNOUN = ["ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "rod"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EMB_DIM = 64


def _rows(name: str, scale: float) -> int:
    return max(1, int(round(_SF01_ROWS[name] * scale)))


def _days(rng, n: int, lo: str, hi: str) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - a).astype(int)
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _write(path: Path, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, path)
    return table.num_rows


def _documents(rng, n: int) -> list[str]:
    """Bags of words over a 31-word vocabulary; 5% of documents repeat an
    earlier one (most with a trailing ``dup`` token), so exact and near
    duplicate detection both have work."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_VOCAB), int(lengths.sum()))
    texts, pos = [], 0
    for ln in lengths:
        texts.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        src = texts[int(rng.integers(0, i))]
        texts[i] = src if rng.random() < 0.05 else src + " dup"
    return texts


def _embeddings(rng, n: int) -> list[np.ndarray]:
    x = rng.standard_normal((n, _EMB_DIM)).astype(np.float32)
    # 5% near-duplicates of earlier vectors, so similarity dedup merges
    for i in rng.choice(np.arange(n // 2, n), n // 20, replace=False):
        j = int(rng.integers(0, i))
        x[i] = x[j] + 0.01 * rng.standard_normal(_EMB_DIM)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return list(x)


def write_tables(out: Path, seed: int, scale: float) -> dict[str, int]:
    """Write the ten fixture tables as ``<out>/<table>.parquet``;
    returns the row count of each."""
    rng = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    n = {t: _rows(t, scale) for t in _SF01_ROWS}
    rows = {}
    rows["region"] = _write(out / "region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": _REGIONS,
    })
    rows["nation"] = _write(out / "nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    rows["customer"] = _write(out / "customer.parquet", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": _choice(rng, _SEGMENTS, nc),
    })
    ns = n["supplier"]
    rows["supplier"] = _write(out / "supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    })
    npart = n["part"]
    adj = rng.integers(0, len(_PADJ), npart)
    noun = rng.integers(0, len(_PNOUN), npart)
    rows["part"] = _write(out / "part.parquet", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{_PADJ[a]} {_PNOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": _choice(rng, _PTYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": 900.0 + (np.arange(npart) % 1000) / 10.0,
    })
    no = n["orders"]
    rows["orders"] = _write(out / "orders.parquet", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _choice(rng, _PRIORITIES, no),
    })
    nl = n["lineitem"]
    rows["lineitem"] = _write(out / "lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
    })
    ne = n["events"]
    gaps_us = rng.exponential(26e6, ne).astype(np.int64)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    rows["events"] = _write(out / "events.parquet", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": t0 + np.cumsum(gaps_us).astype("timedelta64[us]"),
        "user_id": pa.array(
            rng.integers(0, max(2, int(1500 * scale)), ne), i64
        ),
        "event_type": _choice(rng, _EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    texts = _documents(rng, nd)
    rows["documents"] = _write(out / "documents.parquet", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": _choice(rng, _LANGS, nd, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = n["embeddings"]
    rows["embeddings"] = _write(out / "embeddings.parquet", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(_embeddings(rng, nv), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return rows


# --------------------------------------------------------------------------
# snapshot directories (the reference's changelog input)
# --------------------------------------------------------------------------

_SPECIES = [
    "Gadus morhua", "Thunnus albacares", "Penaeus vannamei",
    "Oreochromis niloticus", "Ruditapes philippinarum", "Salmo salar",
    "Clupea harengus", "Engraulis ringens", "Scomber japonicus",
    "Katsuwonus pelamis", "Sardina pilchardus", "Mytilus edulis",
    "Crassostrea gigas", "Cyprinus carpio", "Pangasius hypophthalmus",
    "Theragra chalcogramma", "Micromesistius poutassou",
    "Trachurus murphyi", "Merluccius productus", "Sepia officinalis",
]
_DATASETS = [
    "Global_Production", "Global_Capture", "Global_Aquaculture",
    "Regional_Capture", "Inland_Capture", "Marine_Capture",
    "Fleet_Landings", "Trade_Volume", "Processing_Output",
    "Consumption", "Stocks", "Discards", "Bycatch", "Feed_Input",
]
KEY_COLS = ["dataset", "country", "species", "year"]


def _csv_rows(rng, n: int, year: int) -> list[list]:
    """Unique (country, species) pairs for one year; quantity has a
    fractional part so CSV inference reads it as double."""
    pairs = rng.choice(1000 * len(_SPECIES), n, replace=False)
    return [
        [int(4 + p // len(_SPECIES)), _SPECIES[p % len(_SPECIES)], year,
         float(rng.integers(1, 500_000)) + 0.25 * int(rng.integers(1, 4))]
        for p in pairs
    ]


def _write_csv(path: Path, header: list[str], rows: list[list]) -> None:
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(_csv_cell(v) for v in r) + "\n")


def _csv_cell(v) -> str:
    if isinstance(v, float):
        return repr(v)
    return str(v)


def write_snapshots(out: Path, seed: int, n_csv: int, rows_per_file: int,
                    n_xlsx: int) -> None:
    """Write ``<out>/old`` and ``<out>/new``, and ``<out>/manifest.json``:
    every file and mutation (the expected changelog).

    Kept datasets go from ``filtered_<name>_V202301.csv`` to
    ``<name>_V202401a.csv``, so their standardized keys match while the
    file names differ.  In the new snapshot, each kept CSV gets: about
    10% of its rows changed in ``quantity``, about 5% removed, one
    species dropped entirely, new rows for the next year, the ``flag``
    column removed, a ``unit`` column added, and ``quantity`` retyped
    from double to whole numbers (int).
    """
    from artis_data_ingest_spark.sources.excel import write_minimal_xlsx

    rng = np.random.default_rng(seed)
    old_dir, new_dir = out / "old", out / "new"
    old_dir.mkdir(parents=True, exist_ok=True)
    new_dir.mkdir(parents=True, exist_ok=True)
    names = [f"{d}_Quantity" for d in _DATASETS]
    names += [f"Area{i}_Quantity" for i in range(max(0, n_csv + 4 - len(names)))]
    n_dropped, n_added = 1, 1
    kept = names[:n_csv - n_dropped]
    dropped = names[n_csv - n_dropped:n_csv]
    added = names[n_csv:n_csv + n_added]
    files = []

    def key(name: str) -> str:
        return name.lower()

    for i, name in enumerate(kept + dropped):
        old_rows = _csv_rows(rng, rows_per_file, 2020)
        old_rows = [r + ["A" if j % 3 else "E"] for j, r in enumerate(old_rows)]
        old_header = ["country", "species", "year", "quantity", "flag"]
        old_name = f"filtered_{name}_V202301.csv"
        _write_csv(old_dir / old_name, old_header, old_rows)
        entry = {
            "files_std": key(name), "old": old_name, "new": None,
            "old_rows": old_rows, "old_header": old_header,
            "old_types": {"country": "int", "species": "string",
                          "year": "int", "quantity": "double",
                          "flag": "string"},
        }
        if name in kept:
            gone = _SPECIES[int(rng.integers(len(_SPECIES)))]
            new_rows = []
            for r in old_rows:
                u = rng.random()
                if u < 0.05 or r[1] == gone:
                    continue
                q = r[3] * 1.5 + 0.25 if u < 0.15 else r[3]
                new_rows.append([r[0], r[1], r[2], q, r[4]])
            new_rows += [[r[0], r[1], 2021, r[3] + 1.0, "A"]
                         for r in _csv_rows(rng, rows_per_file // 10, 2021)]
            # schema drift: flag removed, unit added, quantity retyped
            header = ["country", "species", "year", "quantity", "unit"]
            new_rows = [r[:3] + [int(r[3]), "t"] for r in new_rows]
            types = {"country": "int", "species": "string", "year": "int",
                     "quantity": "int", "unit": "string"}
            new_name = f"{name}_V202401a.csv"
            _write_csv(new_dir / new_name, header, new_rows)
            old_species = {r[1] for r in old_rows}
            new_species = {r[1] for r in new_rows}
            entry.update(
                new=new_name, new_rows=new_rows, new_header=header,
                new_types=types,
                removed_species=sorted(old_species - new_species),
            )
        files.append(entry)
    for name in added:
        rows = _csv_rows(rng, rows_per_file, 2021)
        header = ["country", "species", "year", "quantity"]
        new_name = f"{name}_V202401.csv"
        _write_csv(new_dir / new_name, header, rows)
        files.append({
            "files_std": key(name), "old": None, "new": new_name,
            "new_rows": rows, "new_header": header,
        })
    for i in range(n_xlsx):
        name = f"Fleet_Region{i}_Summary"
        header = ["vessel_class", "country", "count", "tonnage"]
        old_rows = [[f"class{j}", int(4 + j), int(rng.integers(1, 900)),
                     float(rng.integers(1, 10**6)) + 0.5]
                    for j in range(max(8, rows_per_file // 20))]
        new_rows = [r[:2] + [r[2] + 1, r[3]] for r in old_rows[:-1]]
        # a title row above the header: the layout read_xlsx(skip = 1) reads
        write_minimal_xlsx(old_dir / f"{name}_V202301.xlsx",
                           [[name], header, *old_rows])
        write_minimal_xlsx(new_dir / f"{name}_V202401.xlsx",
                           [[name], header, *new_rows])
        types = {"vessel_class": "string", "country": "bigint",
                 "count": "bigint", "tonnage": "double"}
        files.append({
            "files_std": key(name), "old": f"{name}_V202301.xlsx",
            "new": f"{name}_V202401.xlsx", "old_rows": old_rows,
            "new_rows": new_rows, "old_header": header, "new_header": header,
            "old_types": types, "new_types": types, "removed_species": [],
        })
    (out / "manifest.json").write_text(json.dumps(files))


def input_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
