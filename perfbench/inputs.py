"""Seeded benchmark inputs, generated outside every clock.

Each input set lives in its own directory named by workload, seed and size
and is written once: a later run with the same seed and size reuses it, so
the first run and every later run start from identical files. A directory is
published by an atomic rename, so an interrupted generation never leaves a
partial set behind.

The program under test only ever sees the files written here.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# star_build source size. Measured on a 4-core host: a warm refresh takes
# about as long at 2,000 rows as at 20,000 (it is ~50 Spark jobs of fixed
# cost), so the size is set where the data still shapes the dims
# (dim_vehiculo is data-sized) while a run stays near one minute.
SRI_ROWS = 20_000
# vehicle-code pool as in the production replays: ~1.43 codes per row leaves
# dim_vehiculo at the reference's shape (331,160 combos from 460,550 rows)
CODES_PER_ROW = 1.43
# deltas for the incremental publishes: 1% of the source each
DELTA_FRACTION = 0.01
DELTAS = 2

# catalog fixture size: the sf0.01 row counts of the test warehouse (TESTDATA.md)
CATALOG_ROWS = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}


def _publish(final: str, build) -> str:
    """Run build(tmp_dir) once and rename the result to `final`."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, final)
    return final


# ---------------------------------------------------------------- star_build


def sri_inputs(work: str, seed: int) -> dict:
    """Source CSV, DELTAS delta CSVs of 1% each and the row counts they fix.

    `expected` holds the per-table row counts of the fixed-mode star built
    from the source, and the fact rows each delta adds, derived here in
    plain Python from the CSV text."""
    from tests.sri_fixture import write_sri_csv

    n_codes = int(CODES_PER_ROW * SRI_ROWS)
    n_delta = int(DELTA_FRACTION * SRI_ROWS)

    def build(tmp: str) -> None:
        src = os.path.join(tmp, "source.csv")
        write_sri_csv(src, n=SRI_ROWS, seed=seed, n_codes=n_codes)
        expected = expected_star_counts(src)
        expected["delta_fact_rows"] = []
        for k in range(DELTAS):
            # a delta draws from the same code pool with its own seed, so it
            # both repeats existing vehicles and brings new ones
            delta = os.path.join(tmp, f"delta{k}.csv")
            write_sri_csv(delta, n=n_delta, seed=seed + 1_000_003 * (k + 1), n_codes=n_codes)
            expected["delta_fact_rows"].append(
                expected_star_counts(delta)["fact_registro_vehiculos"]
            )
        with open(os.path.join(tmp, "expected.json"), "w") as fh:
            json.dump(expected, fh, sort_keys=True)

    d = _publish(os.path.join(work, f"sri-{seed}-{SRI_ROWS}"), build)
    with open(os.path.join(d, "expected.json")) as fh:
        expected = json.load(fh)
    return {
        "source": os.path.join(d, "source.csv"),
        "deltas": [os.path.join(d, f"delta{k}.csv") for k in range(DELTAS)],
        "rows": SRI_ROWS,
        "delta_rows": n_delta,
        "expected": expected,
    }


_DATE = re.compile(r"^(\d{1,2})/(\d{1,2})/(\d{4})$")


def _clean(v: str | None) -> str | None:
    return None if v is None else v.strip().upper()


def _num(v: str | None) -> float | None:
    try:
        return None if v is None else float(v)
    except ValueError:
        return None


def _valid_date(v: str | None) -> bool:
    m = _DATE.match(v or "")
    if not m:
        return False
    try:
        dt.date(int(m.group(3)), int(m.group(1)), int(m.group(2)))
    except ValueError:
        return False
    return True


def expected_star_counts(csv_path: str) -> dict:
    """Row counts of the fixed-mode star (etl/config.py) over one CSV.

    The rules are the fixed-mode contract, restated without Spark: empty
    CSV fields are null; text attributes are trimmed and upper-cased;
    numeric attributes compare as numbers; the fact keeps every row whose
    FECHA PROCESO parses as M/d/yyyy; dim_tiempo is the 2020-2025 calendar;
    dims are distinct over their full attribute tuple, nulls included."""
    with open(csv_path, newline="", encoding="utf-8") as fh:
        rows = csv.reader(fh)
        header = next(rows)
        col = {name: i for i, name in enumerate(header)}
        veh, tra, ubi = set(), set(), set()
        fact = 0

        for raw in rows:
            r = [v if v != "" else None for v in raw]

            def g(name: str):
                return r[col[name]]

            veh.add((
                _num(g("CÓDIGO DE VEHÍCULO")),
                _clean(g("MARCA")), _clean(g("MODELO")), _clean(g("PAÍS")),
                _num(g("AÑO MODELO")),
                _clean(g("CLASE")), _clean(g("SUB CLASE")), _clean(g("TIPO")),
                _num(g("CILINDRAJE")),
                _clean(g("TIPO COMBUSTIBLE")),
                g("COLOR 1"),
                g("COLOR 2") if g("COLOR 2") is not None else "N/A",
            ))
            cat = _num(g("CATEGORÍA"))
            tra.add((
                _clean(g("TIPO TRANSACCIÓN")), _clean(g("TIPO SERVICIO")),
                _clean(g("PERSONA NATURAL - JURÍDICA")),
                None if cat is None else str(int(cat)),
            ))
            canton = _num(g("CANTÓN"))
            if canton is not None:
                ubi.add(int(canton))
            fact += _valid_date(g("FECHA PROCESO (DD/MM/AA)"))
    calendar = (dt.date(2025, 12, 31) - dt.date(2020, 1, 1)).days + 1
    return {
        "dim_tiempo": calendar,
        "dim_vehiculo": len(veh),
        "dim_transaccion": len(tra),
        "dim_ubicacion": len(ubi),
        "fact_registro_vehiculos": fact,
    }


# --------------------------------------------------------------- catalog_mix

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
_NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "spring", "valve"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
_VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_EMB_DIM = 64
_EMB_LABELS = 10


def _day_timestamps(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _documents(rng) -> pa.Table:
    """Bag-of-words documents with planted exact and near duplicates, so the
    dedup family finds clusters to resolve."""
    n = CATALOG_ROWS["documents"]
    texts: list[str] = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < 0.05:  # exact duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 20 and u < 0.10:  # near duplicate: one word appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[j] for j in rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng) -> pa.Table:
    """Unit vectors around one centre per label."""
    n = CATALOG_ROWS["embeddings"]
    centres = rng.normal(size=(_EMB_LABELS, _EMB_DIM))
    labels = rng.integers(0, _EMB_LABELS, n)
    vecs = centres[labels] + 0.8 * rng.normal(size=(n, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def catalog_tables(seed: int) -> dict[str, pa.Table]:
    """The ten tables the catalog reads (sri_spark/sources/testdata.py), in
    the schema of the TPC-H-like test warehouse."""
    rng = np.random.default_rng(seed)
    c, s, p = CATALOG_ROWS["customer"], CATALOG_ROWS["supplier"], CATALOG_ROWS["part"]
    o, li, ev = CATALOG_ROWS["orders"], CATALOG_ROWS["lineitem"], CATALOG_ROWS["events"]

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(options: list[str], n: int) -> pa.Array:
        return pa.array([options[j] for j in rng.integers(0, len(options), n)])

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, c)),
        "c_mktsegment": pick(_SEGMENTS, c),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, s)),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (p, 2))]),
        "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, p)]),
        "p_type": pick(_PTYPES, p),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], o),
        "o_totalprice": pa.array(money(1000.0, 500000.0, o)),
        "o_orderdate": pa.array(_day_timestamps(rng, o, "1995-01-01", "2001-08-01")),
        "o_orderpriority": pick(_PRIORITIES, o),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], li),
        "l_linestatus": pick(["F", "O"], li),
        "l_shipdate": pa.array(_day_timestamps(rng, li, "1995-01-01", "2001-12-31")),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(start, start + span_us, ev)).astype("datetime64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, 150, ev).astype(np.int64)),
        "event_type": pick(_EVENT_TYPES, ev),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, ev), 2), 0.01)),
        "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, ev)]),
    })
    t["documents"] = _documents(rng)
    t["embeddings"] = _embeddings(rng)
    return t


def catalog_inputs(work: str, seed: int) -> str:
    """Write the catalog fixture for `seed`; returns its directory."""

    def build(tmp: str) -> None:
        for name, table in catalog_tables(seed).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))

    return _publish(os.path.join(work, f"catalog-{seed}-{CATALOG_ROWS['lineitem']}"), build)
