"""Seeded input generators and their expected results.

Every generator is a pure function of its seed: the same seed writes
byte-identical files. Beside the files each generator computes, in plain
Python, what the warehouse must hold after a correct ingest, so the
benchmark checks the program against arithmetic it did not perform.

Row recipe (the corruption recipe of the `pipeline_e2e_cert` query):
key % 13 == 0 gives an all-empty row, key % 10 == 0 an unparseable
amount, key % 7 == 0 an empty date. Headers are dirty ("Unit Price ($)")
and must come out sanitised.
"""

from __future__ import annotations

import csv
import datetime
import io
import os
import random
import zipfile
from dataclasses import dataclass, field

# the seven DEFAULT_PATTERN_MAPPING directories plus one no pattern routes;
# restated here so the expectations do not come from the code under test
PATTERN_TABLES = (
    ("tel_list", "dim_numbers"),
    ("customer_data", "dim_customers"),
    ("product_info", "dim_products"),
    ("sales_data", "fact_sales"),
    ("inventory", "dim_inventory"),
    ("transactions", "fact_transactions"),
    ("reports", "staging_reports"),
)
DROP_DIRS = tuple(f"{p}_drop" for p, _ in PATTERN_TABLES) + ("misc_notes_drop",)
ENCODINGS = ("utf-8", "utf-8-sig", "latin1", "cp1252")
WORKBOOK_FORMATS = ("xlsx", "xls", "xlsb")

HEADER = ("Raw Key", "Customer Name", "Amount Due", "Unit Price ($)",
          "Event Date")
SCHEMA_DDL = ", ".join(f"`{h}` string" for h in HEADER)
# names whose non-ASCII letters exist in latin1 and cp1252 alike, so a
# file in either encoding has one correct decoding
NAMES = ("Zoë Ångström", "José Müller", "Françoise Øster", "Núñez Peña",
         "Björn Dählie", "Ana Lúcia", "Søren Kierke", "Marie Curie",
         "Jürgen Groß", "Chloé Ledoux")
BASE_DATE = datetime.date(2024, 1, 1)


def route_table(path: str) -> str | None:
    """Ordered, case-insensitive substring routing on the full path."""
    norm = path.replace("\\", "/").lower()
    for pattern, table in PATTERN_TABLES:
        if pattern in norm:
            return table
    return None


def make_row(rng: random.Random, key: int) -> list[str | None]:
    """One data row; None is an empty cell."""
    name = NAMES[rng.randrange(len(NAMES))]
    cents = rng.randrange(-50_000, 5_000_000)
    price_cents = rng.randrange(1, 100_000)
    day = rng.randrange(0, 366)
    if key % 13 == 0:
        return [None] * len(HEADER)
    amount = "garbage" if key % 10 == 0 else f"{cents / 100:.2f}"
    date = None if key % 7 == 0 else \
        (BASE_DATE + datetime.timedelta(days=day)).isoformat()
    return [f"K{key}", name, amount, f"{price_cents / 100:.2f}", date]


@dataclass
class TableExpect:
    """What one table must hold for a set of input rows."""

    rows: int = 0
    amount_null: int = 0
    amount_cents: int = 0
    price_cents: int = 0
    date_null: int = 0
    min_date: str | None = None
    max_date: str | None = None

    def add(self, row: list[str | None]) -> None:
        if all(v is None for v in row):
            return  # dropped by drop_empty_rows
        self.rows += 1
        amount, price, date = row[2], row[3], row[4]
        if amount == "garbage":
            self.amount_null += 1
        else:
            self.amount_cents += _cents(amount)
        self.price_cents += _cents(price)
        if date is None:
            self.date_null += 1
        else:
            self.min_date = min(self.min_date or date, date)
            self.max_date = max(self.max_date or date, date)

    def merge(self, other: "TableExpect") -> None:
        self.rows += other.rows
        self.amount_null += other.amount_null
        self.amount_cents += other.amount_cents
        self.price_cents += other.price_cents
        self.date_null += other.date_null
        for d in (other.min_date, other.max_date):
            if d is not None:
                self.min_date = min(self.min_date or d, d)
                self.max_date = max(self.max_date or d, d)

    def as_tuple(self) -> tuple:
        return (self.rows, self.amount_null, self.amount_cents,
                self.price_cents, self.date_null, self.min_date,
                self.max_date)


def _cents(text: str) -> int:
    whole, frac = text.lstrip("-").split(".")
    v = int(whole) * 100 + int(frac)
    return -v if text.startswith("-") else v


@dataclass
class Drop:
    """One generated input unit: a CSV drop directory or one workbook."""

    path: str
    files: list[str] = field(default_factory=list)
    tables: dict[str, TableExpect] = field(default_factory=dict)
    # per file: (routed table or None, expected rows after cleaning)
    per_file: dict[str, tuple[str | None, int]] = field(default_factory=dict)

    @property
    def rows(self) -> int:
        return sum(t.rows for t in self.tables.values())


def _add_file(drop: Drop, path: str, grid: list[list[str | None]]) -> None:
    table = route_table(path)
    exp = TableExpect()
    for row in grid:
        exp.add(row)
    drop.files.append(path)
    drop.per_file[path] = (table, exp.rows)
    if table is not None:
        drop.tables.setdefault(table, TableExpect()).merge(exp)


def write_csv_drop(root: str, seed: int, index: int, files_per_dir: int,
                   rows_per_file: int) -> Drop:
    """Drop ``index`` of a run: ``files_per_dir`` CSV files in each of the
    eight DROP_DIRS, cycling through ENCODINGS file by file."""
    rng = random.Random(f"csv-{seed}-{index}")
    drop = Drop(os.path.join(root, f"drop{index:05d}"))
    n = 0
    for f in range(files_per_dir):
        for sub in DROP_DIRS:
            path = os.path.join(drop.path, sub, f"part{f:03d}.csv")
            key0 = (index * len(DROP_DIRS) * files_per_dir + n) \
                * rows_per_file + 1
            grid = [make_row(rng, key0 + r) for r in range(rows_per_file)]
            buf = io.StringIO()
            w = csv.writer(buf, lineterminator="\n")
            w.writerow(HEADER)
            w.writerows([["" if v is None else v for v in row]
                         for row in grid])
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(buf.getvalue().encode(ENCODINGS[n % len(ENCODINGS)]))
            _add_file(drop, path, grid)
            n += 1
    return drop


def _stable_zip(raw: bytes) -> bytes:
    """Re-pack a zip with fixed entry timestamps so equal content gives
    equal bytes (the in-repo builders stamp the current time)."""
    out = io.BytesIO()
    with zipfile.ZipFile(io.BytesIO(raw)) as src, \
            zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as dst:
        for info in src.infolist():
            fixed = zipfile.ZipInfo(info.filename, (1980, 1, 1, 0, 0, 0))
            fixed.compress_type = zipfile.ZIP_DEFLATED
            dst.writestr(fixed, src.read(info.filename))
    return out.getvalue()


def workbook_bytes(seed: int, index: int, rows: int
                   ) -> tuple[str, str, bytes, list[list[str | None]]]:
    """Workbook ``index``: (drop dir, format, bytes, data rows). Formats
    cycle xlsx → xls → xlsb; directories cycle through DROP_DIRS."""
    from light_etl_windows_container_poc_spark.sources.xls_biff import \
        build_xls_bytes
    from light_etl_windows_container_poc_spark.sources.xlsb_biff12 import \
        build_xlsb_bytes
    from light_etl_windows_container_poc_spark.sources.xlsx import \
        build_xlsx_bytes

    rng = random.Random(f"xl-{seed}-{index}")
    fmt = WORKBOOK_FORMATS[index % len(WORKBOOK_FORMATS)]
    grid = [make_row(rng, index * rows + r + 1) for r in range(rows)]
    sheets = {"Sheet1": [list(HEADER)] + grid}
    if fmt == "xlsx":
        raw = _stable_zip(build_xlsx_bytes(sheets))
    elif fmt == "xlsb":
        raw = _stable_zip(build_xlsb_bytes(sheets))
    else:
        raw = build_xls_bytes(sheets)
    return DROP_DIRS[index % len(DROP_DIRS)], fmt, raw, grid


def place_workbook(drive: str, seed: int, index: int, rows: int,
                   drop: Drop) -> str:
    """Write workbook ``index`` under a dot-temp name, then rename it into
    place, so a scanner never sees a half-written file. Records its
    expectations in ``drop`` and returns the final path."""
    sub, fmt, raw, grid = workbook_bytes(seed, index, rows)
    d = os.path.join(drive, sub)
    os.makedirs(d, exist_ok=True)
    final = os.path.join(d, f"book{index:05d}.{fmt}")
    tmp = os.path.join(d, f".book{index:05d}.tmp")
    with open(tmp, "wb") as fh:
        fh.write(raw)
    os.replace(tmp, final)
    _add_file(drop, final, grid)
    return final


# -- query warehouse ---------------------------------------------------------

_WORDS = ("key agg row scan slow fast table value part hash merge batch "
          "spark the line sort window data column join small big query "
          "order group filter stream vector customer a").split()
_LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_query_warehouse(out_dir: str, seed: int, scale: float) -> dict:
    """TPC-H-shaped star schema plus events, documents and embeddings, at
    ``scale`` (1.0 ~ 6M lineitems). Returns {table: rows}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    pyr = random.Random(seed)
    n_cust = max(50, int(150_000 * scale))
    n_ord = max(500, int(1_500_000 * scale))
    n_li = max(2000, int(6_000_000 * scale))
    n_part = max(100, int(200_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_docs = max(300, int(50_000 * scale))
    n_emb = max(300, int(20_000 * scale))
    n_users = max(20, int(15_000 * scale))
    day0 = np.datetime64("1995-01-01", "us")
    us_day = 86_400_000_000

    def cents(lo, hi, n):
        return rng.integers(lo, hi, n) / 100.0

    def choice(options, n):
        return np.array(options, dtype=object)[rng.integers(0, len(options), n)]

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": cents(-99_999, 1_000_000, n_cust),
            "c_mktsegment": choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": cents(-99_999, 1_000_000, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                choice(["small", "red", "blue", "hot", "green", "large",
                        "shiny", "cold"], n_part),
                choice(["ring", "widget", "bolt", "gear", "nut", "pipe",
                        "valve", "spring"], n_part))],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": choice(["ECONOMY", "SMALL", "STANDARD", "LARGE",
                              "MEDIUM", "PROMO"], n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": choice(["F", "O", "P"], n_ord),
            "o_totalprice": cents(100_000, 50_000_000, n_ord),
            "o_orderdate": day0 + rng.integers(0, 2404, n_ord) * us_day,
            "o_orderpriority": choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": cents(90_000, 10_500_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": choice(["A", "N", "R"], n_li),
            "l_linestatus": choice(["F", "O"], n_li),
            "l_shipdate": day0 + rng.integers(1, 2500, n_li) * us_day},
    }
    ev_ts = np.sort(np.datetime64("2024-01-01", "us")
                    + rng.integers(0, 30 * us_day, n_ev))
    tables["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": choice(["signup", "error", "click", "view",
                              "purchase"], n_ev),
        "value": cents(1, 50_000, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and pyr.random() < 0.06:
            # near-duplicate of an earlier document: one word replaced
            words = texts[pyr.randrange(i)].split()
            words[pyr.randrange(len(words))] = pyr.choice(_WORDS)
        else:
            words = [pyr.choice(_WORDS) for _ in range(pyr.randrange(8, 95))]
        texts.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": [pyr.choice(_LANGS) for _ in range(n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64)).astype(np.float32)
    vecs = centers[labels] + 0.6 * rng.standard_normal((n_emb, 64)) \
        .astype(np.float32)
    dup = rng.random(n_emb) < 0.03  # near-duplicates of the previous row
    for i in np.nonzero(dup)[0]:
        if i > 0:
            vecs[i] = vecs[i - 1] + 0.001 * rng.standard_normal(64)
    tables["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}

    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
