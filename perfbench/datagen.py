"""Seeded input generators for the benchmark.

Everything the program under test reads is made by this module from
the run's seed: the TPC-H-ish tables the dashboard endpoints scan (same
schemas and value domains as the repository's test tables) and the
energy CSV uploads the ingest workload lands (FIXTURES.md §1/§1b:
verbatim dirty headers, dd-mm-yyyy dates, ~2% defects per kind). The
same seed always gives byte-identical inputs. Timestamps are parquet
TIMESTAMP(MICROS), as in the test tables' files (``events.ts`` included).
"""

from __future__ import annotations

import csv
import io
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per unit of scale factor; at SCALE=0.01 they match the
# repository's sf0.01 test tables.
ROWS_PER_SF = {"orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
               "documents": 50_000}
N_CUSTOMERS_PER_SF = 150_000
N_PARTS_PER_SF = 200_000
N_SUPPLIERS_PER_SF = 10_000
N_USERS_PER_SF = 15_000

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window data column join small customer query order group "
         "stream filter big vector").split()

_DAY_US = 86_400 * 1_000_000


def _ts(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + days.astype(np.int64) * _DAY_US, type=pa.timestamp("us"))


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write orders/lineitem/events/documents parquet files under
    ``out_dir``; returns the row count of each table."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_o = int(ROWS_PER_SF["orders"] * scale)
    n_l = int(ROWS_PER_SF["lineitem"] * scale)
    n_e = int(ROWS_PER_SF["events"] * scale)
    n_d = int(ROWS_PER_SF["documents"] * scale)
    n_cust = int(N_CUSTOMERS_PER_SF * scale)
    n_part = int(N_PARTS_PER_SF * scale)
    n_supp = int(N_SUPPLIERS_PER_SF * scale)
    n_user = int(N_USERS_PER_SF * scale)

    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_o, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_o)),
        "o_totalprice": pa.array(rng.integers(101_370, 49_997_859, n_o) / 100.0),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_o)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_o)),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_l, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_l, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_l).astype(np.float64)),
        "l_extendedprice": pa.array(rng.integers(90_182, 10_499_789, n_l) / 100.0),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_l)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_l)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_l)),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_e))
    events = pa.table({
        "event_id": pa.array(np.arange(n_e, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "us").astype(np.int64) + ev_us,
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_e, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_e)),
        "value": pa.array(rng.integers(1, 49_003, n_e) / 100.0),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]),
    })
    lens = rng.integers(8, 80, n_d)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(VOCAB[w] for w in words[pos:pos + n]))
        pos += n
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_d, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_d)),
        "source": pa.array([f"src{i % 20}" for i in range(n_d)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    tables = {"orders": orders, "lineitem": lineitem, "events": events,
              "documents": documents}
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- energy uploads (ingest workload) -------------------------------------

ENERGY_HEADERS = [
    "Home ID", "Appliance Type", "Energy Consumption (kWh)", "Time", "Date",
    "Outdoor Temperature (°C)", "Season", "Household Size",
]
APPLIANCES = ["Air Conditioning", "Computer", "Dishwasher", "Fridge", "Heater",
              "Lights", "Microwave", "Oven", "TV", "Washing Machine"]
DEFECT_RATE = 0.02


@dataclass
class Upload:
    """One generated CSV upload and what the ingest must make of it."""

    name: str
    data: bytes
    valid: list[tuple[str, str, float, str]]  # (HomeID, Appliance, kWh, Date)
    quarantined: int


def make_uploads(seed: int, n_files: int, rows_lo: int, rows_hi: int,
                 stream: int = 0) -> list[Upload]:
    """``n_files`` uploads of ``rows_lo..rows_hi`` rows each; ``stream``
    selects an independent sequence for the same seed. Each row
    independently gets each §1b defect with probability DEFECT_RATE:
    empty Home ID, empty Appliance Type, non-numeric energy (row
    quarantined), non-numeric Household Size (row kept)."""
    rng = np.random.default_rng([seed, 2, stream])
    uploads = []
    for i in range(n_files):
        n = int(rng.integers(rows_lo, rows_hi + 1))
        home = rng.integers(1, 501, n)
        appl = rng.integers(0, len(APPLIANCES), n)
        kwh = rng.integers(10, 501, n) / 100.0
        hour, minute = rng.integers(0, 24, n), rng.integers(0, 60, n)
        day, month = rng.integers(1, 29, n), rng.integers(1, 7, n)
        temp = rng.integers(-100, 401, n) / 10.0
        season = rng.integers(0, 2, n)
        hh = rng.integers(1, 6, n)
        defects = rng.random((n, 4)) < DEFECT_RATE
        bad_energy = rng.choice(["n/a", ""], n)
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(ENERGY_HEADERS)
        valid, quarantined = [], 0
        for r in range(n):
            home_s = "" if defects[r, 0] else str(home[r])
            appl_s = "" if defects[r, 1] else APPLIANCES[appl[r]]
            kwh_s = bad_energy[r] if defects[r, 2] else f"{kwh[r]:.2f}"
            date_s = f"{day[r]:02d}-{month[r]:02d}-2023"
            w.writerow([
                home_s, appl_s, kwh_s, f"{hour[r]}:{minute[r]:02d}", date_s,
                f"{temp[r]:.1f}", ("Winter", "Spring")[season[r]],
                "unknown" if defects[r, 3] else str(hh[r]),
            ])
            if defects[r, :3].any():
                quarantined += 1
            else:
                valid.append((home_s, appl_s, float(kwh_s), date_s))
        uploads.append(Upload(f"upload-{stream}-{i:05d}.csv", buf.getvalue().encode(),
                              valid, quarantined))
    return uploads
