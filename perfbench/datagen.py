"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments, so
one ``--seed`` always yields the same bytes of input. Nothing here
starts Spark: tables are written with pyarrow, the telemetry CSV with
the csv module.

- ``write_tables``: the ten TPC-H-ish tables the registry reads
  (same names, columns and types as the driver's testdata layout), at a
  chosen scale factor.
- ``telemetry_csv``: the reference's raw CSV shape (CamelCase header,
  ``M/d/yyyy H:mm`` timestamps), machines x hourly readings.
- ``telemetry_row`` / ``event_batch``: single records for the write
  path and the stream generator.
"""

from __future__ import annotations

import csv
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a the data table row column key value part join hash sort merge scan "
    "filter query group agg window stream batch line order customer spark "
    "fast slow big small vector"
).split()
_PART_ADJ = "small red blue hot cold old new large".split()
_PART_NOUN = "ring widget anvil gizmo gear plate rod bolt".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "fr", "es", "zh"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
_DAY = 86_400


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_us(epoch_s):
    """int/float epoch seconds -> timestamp[us] array without a zone (the
    testdata layout: parquet TIMESTAMP(MICROS, ntz))."""
    return pa.array((np.asarray(epoch_s) * 1_000_000).astype("int64"), pa.timestamp("us"))


def _text(rng, n_words):
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def table_arrays(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten registry input tables at scale factor ``sf`` (row counts
    follow the testdata: lineitem 6M x sf, orders 1.5M x sf, ...)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_li = max(int(6_000_000 * sf), 400)
    n_ev = max(int(1_000_000 * sf), 200)
    n_doc = max(int(50_000 * sf), 50)
    n_users = max(int(15_000 * sf), 20)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": [_P_TYPES[i] for i in rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts_us(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
        }
    )
    qty = rng.integers(1, 51, n_li).astype("float64")
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li),
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
            "l_shipdate": _ts_us(_EPOCH_1995 + rng.integers(1, 2500, n_li) * _DAY),
        }
    )
    ev_ts = np.sort(_EPOCH_2024 + rng.uniform(0, 30 * _DAY, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": _ts_us(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
            "value": _money(rng, 0.01, 500.0, n_ev),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_ev)],
        }
    )
    texts = [_text(rng, int(k)) for k in rng.integers(8, 100, n_doc)]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype="int64"),
            "text": texts,
            "lang": [_LANGS[i] for i in rng.choice(5, n_doc, p=[0.5, 0.125, 0.125, 0.125, 0.125])],
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )
    emb = rng.normal(0.0, 0.125, (n_doc, 64)).astype("float32")
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_doc, dtype="int64"),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }
    )
    return t


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` (one file, one row group per
    table, as in the testdata). Returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in table_arrays(seed, sf).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts


# --- telemetry (reference CSV shape) ---------------------------------------

CSV_HEADER = [
    "MachineID", "Type", "Location", "Timestamp", "EngineTemperature",
    "FuelConsumption", "VibrationLevel", "Humidity", "Pressure",
    "PowerOutput", "OperatingHours", "Status",
]
STATUSES = ["Active", "Fault", "Idle", "Maintenance"]
_TYPES = ["Loader", "Truck", "Excavator", "Generator"]
_SITES = ["Site A", "Site B", "Site D"]
TELEMETRY_START = dt.datetime(2025, 9, 1)
START_EPOCH = int(TELEMETRY_START.replace(tzinfo=dt.timezone.utc).timestamp())


def machine_ids(n_machines: int) -> list[str]:
    return [f"M{i:03d}" for i in range(1, n_machines + 1)]


def _reading(rng, hour_index: int) -> list:
    """One sensor reading; values are rounded to 2 dp so the CSV text
    and the parsed double agree exactly."""
    return [
        round(float(rng.normal(80.3, 8.0)), 2),
        round(float(rng.uniform(3.78, 23.35)), 2),
        round(float(rng.uniform(-1.15, 8.23)), 2),
        round(float(rng.uniform(-1.1, 102.1)), 2),
        round(float(rng.uniform(845.6, 1124.6)), 2),
        round(float(rng.uniform(11.5, 242.1)), 2),
        float(hour_index + 1),
        STATUSES[int(rng.integers(0, 4))],
    ]


def csv_ts(t: dt.datetime) -> str:
    return f"{t.month}/{t.day}/{t.year} {t.hour}:{t.minute:02d}"


def telemetry_csv(path: str, seed: int, n_machines: int, hours: int) -> list[dict]:
    """Write the raw reference-shaped CSV and return the rows it holds as
    canonical records (the generator's own ledger for answer checks)."""
    rng = np.random.default_rng(seed)
    ledger = []
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(CSV_HEADER)
        for m, mid in enumerate(machine_ids(n_machines)):
            mtype, site = _TYPES[m % 4], _SITES[m % 3]
            for h in range(hours):
                t = TELEMETRY_START + dt.timedelta(hours=h)
                vals = _reading(rng, h)
                w.writerow([mid, mtype, site, csv_ts(t), *vals])
                ledger.append(ledger_record(mid, mtype, site, t, vals))
    return ledger


def ledger_record(mid: str, mtype: str, site: str, t: dt.datetime, vals: list) -> dict:
    return {
        "machineid": mid,
        "type": mtype,
        "location": site,
        "timestamp_epoch": int(t.replace(tzinfo=dt.timezone.utc).timestamp()),
        "enginetemperature": vals[0],
        "fuelconsumption": vals[1],
        "vibrationlevel": vals[2],
        "humidity": vals[3],
        "pressure": vals[4],
        "poweroutput": vals[5],
        "operatinghours": vals[6],
        "status": vals[7],
    }


def telemetry_row(rng, mid: str, hour_index: int) -> tuple[dict, dict]:
    """A new reading for ``insert_telemetry`` (CamelCase-free canonical
    keys, CSV-text timestamp) and its ledger record."""
    m = int(mid[1:]) - 1
    t = TELEMETRY_START + dt.timedelta(hours=hour_index)
    vals = _reading(rng, hour_index)
    cols = ["enginetemperature", "fuelconsumption", "vibrationlevel", "humidity",
            "pressure", "poweroutput", "operatinghours", "status"]
    row = {"machineid": mid, "type": _TYPES[m % 4], "location": _SITES[m % 3],
           "timestamp": csv_ts(t), **dict(zip(cols, vals))}
    return row, ledger_record(mid, _TYPES[m % 4], _SITES[m % 3], t, vals)


# --- stream events -----------------------------------------------------------

STREAM_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.timestamp("us", tz="UTC")),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)


def event_batch(seed: int, file_index: int, rows: int, dup_rows: int) -> pa.Table:
    """File ``file_index`` of the stream: ``rows`` fresh events whose
    event time advances one minute per file, plus ``dup_rows`` exact
    re-sends of events from the previous file (the duplicates the dedup
    stage must drop). Event time only moves forward by less than the
    watermark delay, so no row is ever late."""
    rng = np.random.default_rng([seed, file_index])
    base_us = (_EPOCH_2024 + file_index * 60) * 1_000_000
    ids = file_index * rows + np.arange(rows, dtype="int64")
    ts = base_us + np.sort(rng.integers(0, 60_000_000, rows))
    tbl = pa.table(
        {
            "event_id": ids,
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": rng.integers(0, 50, rows),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, rows)],
            "value": _money(rng, 0.01, 500.0, rows),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, rows)],
        },
        schema=STREAM_SCHEMA,
    )
    if file_index == 0 or dup_rows == 0:
        return tbl
    prev = event_batch(seed, file_index - 1, rows, 0)
    pick = np.sort(rng.choice(rows, dup_rows, replace=False))
    return pa.concat_tables([tbl, prev.take(pa.array(pick))])
