"""Seeded input generators for the benchmark.

Two families, both pure functions of ``(seed, size)``:

* :func:`write_tables` writes the TPC-H-ish catalog tables (``region``
  ... ``embeddings``, the layout of ``schemas.TESTDATA``) as one parquet
  file each, shaped like the TESTDATA.md fixtures: 2-decimal money columns,
  1995-2001 order dates, a 30-day event stream, word-salad documents with
  planted near-duplicates, and unit-norm 64-d embeddings clustered by
  label.
* :func:`write_dirty_csvs` writes the five coffee-shop entity CSVs with
  the FIXTURES.md section A defects planted at known rows, and returns
  per entity the ingested row count, the count of each planted defect,
  and the clean/error split the rule engine must produce.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(days: np.ndarray, base: str) -> pa.Array:
    micros = (np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))
    return pa.array(micros, pa.timestamp("us"))


def table_rows(sf: float) -> dict[str, int]:
    """Row count per table at scale factor ``sf`` (sf0.01 matches the
    TESTDATA.md fixture sizes)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": max(20, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(50, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "documents": max(40, int(50_000 * sf)),
        "embeddings": max(40, int(50_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.15:
            # planted near-duplicate: an earlier document with one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every catalog table under ``out_dir`` and return the row
    count of each."""
    rng = np.random.default_rng(seed)
    n = table_rows(sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(npart), pa.int64()),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 7, npart), rng.integers(0, 7, npart))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, npart)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, npart)],
            "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
        }
    )
    order_days = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _ts(order_days, "1995-01-01"),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)],
        }
    )
    lines_per_order = rng.integers(1, 8, no)
    nl = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(no), lines_per_order)
    starts = np.repeat(np.cumsum(lines_per_order) - lines_per_order, lines_per_order)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(np.arange(nl) - starts + 1, pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
            "l_shipdate": _ts(order_days[l_order] + rng.integers(1, 122, nl), "1995-01-01"),
        }
    )
    ne = n["events"]
    gaps = rng.exponential(30 * 86_400_000_000 / ne, ne).astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(10, ne // 66), ne), pa.int64()),
            "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)],
        }
    )
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}


# ---------------------------------------------------------------------------
# Dirty five-entity CSVs (FIXTURES.md section A)
# ---------------------------------------------------------------------------

FIRST = ["An", "Binh", "Chi", "Dung", "Giang", "Hanh", "Khanh", "Linh", "Minh", "Nam"]
LAST = ["Nguyen", "Tran", "Le", "Pham", "Hoang", "Vu", "Dang", "Bui", "Do", "Ngo"]
CITIES = ["Ha Noi", "Ho Chi Minh", "Hai Phong", "Da Nang", "Can Tho", "Hue"]
CATEGORIES = ["An sang", "An trua", "An toi", "An nhe", "Do uong", "Do an vat"]
INGREDIENTS = ["Gao", "Hanh", "Muoi", "Duong", "Ca phe hat", "Sua", "Tra"]
UNITS = ["kg", "g", "l", "ml", "chai", "hop", "goi", "thung", "lo", "bo"]
STATUSES = ["NEW", "CONFIRMED", "DONE", "CANCELLED"]

#: per planted defect: does the rule engine reject the row (True) or
#: repair it and keep it clean (False)
DEFECTS: dict[str, dict[str, bool]] = {
    "khach_hang": {
        "duplicate_id": True,
        "short_phone": True,
        "truncated_email": True,
        "digit_in_name": True,
        "trailing_star_name": False,
        "city_variant": False,
    },
    "loai_mon": {"duplicate_id": True, "blank_name": True, "name_digit_suffix": False},
    "mon": {
        "unparseable_price": True,
        "negative_price": True,
        "category_variant": False,
    },
    "nguyen_lieu": {"duplicate_id": True, "unknown_unit": True},
    "dat_hang": {"unknown_status": True, "zero_quantity": True},
}

FILENAMES = {
    "khach_hang": "khachhang.csv",
    "loai_mon": "loaisanpham.csv",
    "mon": "tensanpham.csv",
    "nguyen_lieu": "nguyenlieu.csv",
    "dat_hang": "dathang.csv",
}


def etl_rows(rows: int) -> dict[str, int]:
    """Target row counts per entity for ``rows`` total (khach_hang,
    nguyen_lieu and dat_hang each ~31%, mon ~6%, loai_mon 50)."""
    big = max(20, int(rows * 0.3125))
    return {
        "khach_hang": big,
        "loai_mon": 50,
        "mon": max(20, int(rows * 0.0625)),
        "nguyen_lieu": big,
        "dat_hang": big,
    }


def _plant(rng: np.random.Generator, entity: str, rate: float) -> str | None:
    """Pick at most one defect for the next row."""
    if rng.random() >= rate:
        return None
    names = list(DEFECTS[entity])
    return names[int(rng.integers(0, len(names)))]


def _khach_hang(rng, n, rate, defects):
    rows: list[list[str]] = []
    next_id = 1
    while len(rows) < n:
        d = _plant(rng, "khach_hang", rate)
        if d == "duplicate_id" and rows:
            rows.append(list(rows[-1]))  # exact copy right after its first occurrence
            defects[d] += 1
            continue
        i = next_id
        next_id += 1
        name = f"{LAST[i % 10]} {FIRST[(i // 10) % 10]}"
        phone = f"09{int(rng.integers(10_000_000, 99_999_999)):08d}"
        city = CITIES[int(rng.integers(0, len(CITIES)))]
        email = f"user{i}@example.com"
        if d == "short_phone":
            phone = str(int(rng.integers(100, 999)))
        elif d == "truncated_email":
            email = f"user{i}@"
        elif d == "digit_in_name":
            name = f"{name}{int(rng.integers(10, 9999))}"
        elif d == "trailing_star_name":
            name = f"{name}*"
        elif d == "city_variant":
            city = {"Ha Noi": "hanoi", "Ho Chi Minh": "tphcm", "Hai Phong": "haiphong",
                    "Da Nang": "danang", "Can Tho": "cantho", "Hue": "hue"}[city]
        else:
            d = None
        if d:
            defects[d] += 1
        rows.append([str(i), name, phone, city, email])
    return ["id", "ho_ten", "sdt", "thanh_pho", "email"], rows


def _loai_mon(rng, n, rate, defects):
    rows: list[list[str]] = []
    next_id = 1
    while len(rows) < n:
        d = _plant(rng, "loai_mon", rate)
        if d == "duplicate_id" and rows:
            rows.append(list(rows[-1]))
            defects[d] += 1
            continue
        i = next_id
        next_id += 1
        name = CATEGORIES[i % len(CATEGORIES)]
        if d == "blank_name":
            name = ""
        elif d == "name_digit_suffix":
            name = f"{name}{int(rng.integers(1, 99))}"
        else:
            d = None
        if d:
            defects[d] += 1
        rows.append([str(i), name, f"Nhom mon so {i}"])
    return ["id", "ten_loai", "mo_ta"], rows


def _mon(rng, n, rate, defects):
    rows: list[list[str]] = []
    for i in range(1, n + 1):
        d = _plant(rng, "mon", rate)
        price = str(int(rng.integers(25, 121)) * 1000)
        cat = CATEGORIES[int(rng.integers(0, len(CATEGORIES)))]
        if d == "unparseable_price":
            price = ("abc", "abc100", "???", "50 000")[int(rng.integers(0, 4))]
        elif d == "negative_price":
            price = str(-int(rng.integers(1, 1000)))
        elif d == "category_variant":
            cat = (cat.upper(), cat.lower(), cat.replace(" ", "_"), cat + "   ")[
                int(rng.integers(0, 4))
            ]
        if d:
            defects[d] += 1
        rows.append([str(i), f"Mon so {i}", price, cat])
    return ["id", "ten_san_pham", "gia", "loai"], rows


def _nguyen_lieu(rng, n, rate, defects):
    rows: list[list[str]] = []
    next_id = 1
    while len(rows) < n:
        d = _plant(rng, "nguyen_lieu", rate)
        if d == "duplicate_id" and rows:
            rows.append(list(rows[-1]))
            defects[d] += 1
            continue
        i = next_id
        next_id += 1
        unit = UNITS[int(rng.integers(0, len(UNITS)))]
        if d == "unknown_unit":
            unit = ("ban", "cai", "tui")[int(rng.integers(0, 3))]
            defects[d] += 1
        day = dt.date(2024, 1, 1) + dt.timedelta(days=int(rng.integers(0, 365)))
        rows.append(
            [
                str(i),
                f"{INGREDIENTS[i % len(INGREDIENTS)]} loai {i % 5 + 1}",
                str(int(rng.integers(100, 301))),
                unit,
                str(int(rng.integers(5, 500)) * 1000),
                day.isoformat(),
            ]
        )
    return ["id", "ten_nguyen_lieu", "so_luong", "don_vi", "gia", "ngay_nhap"], rows


def _dat_hang(rng, n, rate, defects, n_customers, n_items):
    rows: list[list[str]] = []
    for i in range(1, n + 1):
        d = _plant(rng, "dat_hang", rate)
        qty = str(int(rng.integers(1, 5)))
        status = STATUSES[int(rng.integers(0, 4))]
        if d == "unknown_status":
            status = ("MAYBE", "PENDING?", "LOST")[int(rng.integers(0, 3))]
        elif d == "zero_quantity":
            qty = "0"
        if d:
            defects[d] += 1
        day = dt.date(2024, 12, 1) + dt.timedelta(days=int(rng.integers(0, 31)))
        rows.append(
            [
                str(i),
                str(int(rng.integers(1, n_customers + 1))),
                str(int(rng.integers(1, n_items + 1))),
                qty,
                day.isoformat(),
                status,
            ]
        )
    return ["id", "khach_hang_id", "mon_id", "so_luong", "ngay_dat", "trang_thai"], rows


def write_dirty_csvs(
    out_dir: str, seed: int, rows: int, defect_rate: float = 0.06
) -> dict[str, dict]:
    """Write the five entity CSVs (UTF-8 with BOM, header row) and
    return per entity ``{"ingested", "clean", "error", "defects"}``.
    At most one defect is planted per row, so every rejecting defect
    turns exactly one row into an error-zone row."""
    rng = np.random.default_rng(seed + 1_000_003)
    sizes = etl_rows(rows)
    os.makedirs(out_dir, exist_ok=True)
    expected: dict[str, dict] = {}
    for entity in ("khach_hang", "loai_mon", "mon", "nguyen_lieu", "dat_hang"):
        defects = {name: 0 for name in DEFECTS[entity]}
        n = sizes[entity]
        if entity == "khach_hang":
            header, body = _khach_hang(rng, n, defect_rate, defects)
        elif entity == "loai_mon":
            header, body = _loai_mon(rng, n, defect_rate, defects)
        elif entity == "mon":
            header, body = _mon(rng, n, defect_rate, defects)
        elif entity == "nguyen_lieu":
            header, body = _nguyen_lieu(rng, n, defect_rate, defects)
        else:
            header, body = _dat_hang(
                rng, n, defect_rate, defects, sizes["khach_hang"], sizes["mon"]
            )
        with open(os.path.join(out_dir, FILENAMES[entity]), "w", encoding="utf-8-sig", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(header)
            w.writerows(body)
        error = sum(c for name, c in defects.items() if DEFECTS[entity][name])
        expected[entity] = {
            "ingested": len(body),
            "clean": len(body) - error,
            "error": error,
            "defects": defects,
        }
    return expected
