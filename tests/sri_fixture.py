"""Deterministic synthetic SRI-shaped CSV (FIXTURES.md §1 generator spec).

Coverage requirements baked in: exact header strings, nulls in every nullable
column (~18% in COLOR 2), one unparseable FECHA PROCESO, one non-numeric
AVALÚO, full-row duplicates, same-code/different-attribute vehicle rows (Q4
fan-out), transaction combos ≫ distinct join-key pairs, mapped and unmapped
canton codes, and one row with trailing whitespace in a join column (Q5).
"""

from __future__ import annotations

import csv
import io
import os
import random

HEADER = [
    "CATEGORÍA", "CÓDIGO DE VEHÍCULO", "TIPO TRANSACCIÓN", "MARCA", "MODELO",
    "PAÍS", "AÑO MODELO", "CLASE", "SUB CLASE", "TIPO", "AVALÚO",
    "FECHA PROCESO (DD/MM/AA)", "TIPO SERVICIO", "CILINDRAJE",
    "TIPO COMBUSTIBLE", "FECHA COMPRA (DD/MM/AA)", "CANTÓN", "COLOR 1",
    "COLOR 2", "PERSONA NATURAL - JURÍDICA",
]

MARCAS = ["HINO", "TUKO", "CHEVROLET", "TOYOTA", "KIA", "GREAT WALL"]
MODELOS = [f"MODELO {i}" for i in range(30)]
PAISES = ["CHINA POPULAR", "COLOMBIA", "JAPON", "ECUADOR", "COREA"]
CLASES = ["AUTOMOVIL", "CAMION", "CAMIONETA", "JEEP", "MOTOCICLETA"]
SUBCLASES = ["PLATAFORMA-C", "PASEO", "BLINDADO", "DOBLE CABINA"]
TIPOS = ["LIVIANO", "PESADO"]
COMBUSTIBLES = ["GASOLINA", "DIESEL", "HIBRIDO"]
COLORES = ["BLA", "ROJ", "NEG", "AZU", "GRI", "VER"]
CANTONES = [10701, 21101, 20501, 30101, 99901, 88817, 20606]  # mapped + unmapped
TRANSACCIONES = ["COMPRA LOCAL", "IMPORTACIÓN DIRECTA"]
SERVICIOS = ["PAR", "ALQ"]
PERSONAS = ["NATURAL", "JURIDICA"]


def generate_sri_rows(
    n: int = 2000,
    seed: int = 42,
    n_codes: int | None = None,
    coverage: bool = True,
) -> list[list]:
    """`n_codes` controls vehicle-code cardinality. Default (None) keeps the
    small-fixture shape (~300 codes → duplicate codes, small dim_vehiculo).
    The production replay bench passes a large pool so the vehicle dim comes
    out at the reference's recorded shape — 331,160 distinct combos from
    460,550 rows (BASELINE.md): a ~660k-code pool drawn 460,550 times leaves
    ≈331k distinct codes present (coupon-collector expectation)."""
    rng = random.Random(seed)
    code_pool = n_codes if n_codes is not None else 300
    rows = []
    for i in range(n):
        codigo = 1000 + rng.randrange(code_pool)
        # vehicle attributes are a deterministic function of the code so the
        # vehicle dim stays ~1:1 per code (the real data's shape: 883 combos /
        # 882 codes); targeted fan-out rows are injected below
        vr = random.Random(codigo)
        month, day = rng.randrange(1, 13), rng.randrange(1, 29)
        year = rng.choice([2024, 2025])
        trans = rng.choice(TRANSACCIONES)
        serv = rng.choice(SERVICIOS)
        # CATEGORÍA: mostly a function of the (trans, serv) pair with a few
        # extra values → modest m:m on the 2-col join key (reference shape:
        # 133 combos over 4 pairs, scaled down)
        categoria = 900000 + TRANSACCIONES.index(trans) * 10 + SERVICIOS.index(serv)
        if rng.random() < 0.05:
            categoria += 100 * rng.randrange(1, 4)
        row = [
            categoria,
            codigo,
            trans,
            vr.choice(MARCAS) if rng.random() > 0.002 else "",
            vr.choice(MODELOS),
            vr.choice(PAISES),
            vr.choice([2018, 2019, 2020, 2021, 2022, 2023, 2024, 2025])
            if rng.random() > 0.002
            else "",
            vr.choice(CLASES) if rng.random() > 0.002 else "",
            vr.choice(SUBCLASES),
            vr.choice(TIPOS),
            round(rng.uniform(3000, 90000), 2) if rng.random() > 0.002 else "",
            f"{month}/{day}/{year}" if rng.random() > 0.002 else "",
            serv,
            vr.choice([250.0, 1500.0, 2000.0, 3500.0, 4009.0])
            if rng.random() > 0.002
            else "",
            vr.choice(COMBUSTIBLES),
            f"{rng.randrange(1,13)}/{rng.randrange(1,29)}/{year}",
            rng.choice(CANTONES) if rng.random() > 0.01 else "",
            vr.choice(COLORES),
            vr.choice(COLORES) if rng.random() > 0.18 else "",
            rng.choice(PERSONAS),
        ]
        rows.append(row)

    # targeted coverage rows (fixed indices 10-30; skipped when the caller
    # asks for a coverage-free batch — chunked writers inject them only in
    # chunk 0 — or when the batch is too small to hold them)
    if coverage and n > 30:
        rows[10][11] = "not-a-date"  # unparseable FECHA PROCESO
        rows[11][10] = "N/D"  # non-numeric AVALÚO
        rows[12] = list(rows[13])  # exact duplicate pair
        # Q4 fan-out: same vehicle code, two different attribute sets
        rows[20][1] = rows[21][1] = 7777
        rows[20][3], rows[21][3] = "HINO", "TOYOTA"
        # Q5: trailing space in raw join column (survives in fact, cleaned in dim)
        rows[30][2] = "COMPRA LOCAL "
    return rows


def _chunk_csv_text(args: tuple[int, int, int | None, bool]) -> str:
    """One chunk's rows, CSV-encoded in the worker process — piping one
    string per chunk back to the writer beats piping 250k row lists."""
    take, seed, n_codes, coverage = args
    buf = io.StringIO()
    csv.writer(buf).writerows(generate_sri_rows(take, seed, n_codes, coverage))
    return buf.getvalue()


def write_sri_csv(
    path: str,
    n: int = 2000,
    seed: int = 42,
    n_codes: int | None = None,
    chunk_rows: int | None = None,
    workers: int | None = None,
) -> None:
    """`chunk_rows` streams the file in bounded-memory chunks (each chunk
    seeded independently from `seed`) — required for the 100x replay's
    46M-row source, where a single generate_sri_rows list would hold the
    whole file in RAM. Chunking draws from the same code pool, so the
    statistical shape (dim cardinality vs row count) is unchanged; rows
    are not byte-identical to the unchunked file, which only matters to
    the perf replays that use this path, never to oracle-checked tests.

    `workers` parallelizes chunk generation across processes (row synthesis
    is pure Python at ~45k rows/s/core — the 46M-row source would take ~17
    minutes single-threaded). Chunks are seeded by index and written in
    order, so the output is byte-identical to the sequential chunked path."""
    chunks: list[tuple[int, int, int | None, bool]] = []
    if chunk_rows is not None:
        written = 0
        while written < n:
            take = min(chunk_rows, n - written)
            # coverage rows live at fixed indices 10-30: inject them exactly
            # once (chunk 0), never in a chunk too small to hold them
            chunks.append((take, seed + len(chunks), n_codes, len(chunks) == 0))
            written += take
    # write to a temp sibling and rename: bench.py reuses the cached file
    # whenever the path exists, so an interrupted multi-GB generation must
    # never leave a truncated file at the final path (os.replace is atomic
    # on the same filesystem)
    tmp_path = path + ".tmp"
    with open(tmp_path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(HEADER)
        if chunk_rows is None:
            w.writerows(generate_sri_rows(n, seed, n_codes))
        elif workers and workers > 1:
            import multiprocessing as mp

            with mp.Pool(workers) as pool:
                for text in pool.imap(_chunk_csv_text, chunks):
                    f.write(text)
        else:
            for args in chunks:
                f.write(_chunk_csv_text(args))
    os.replace(tmp_path, path)


def force_key_path(monkeypatch, fits: bool) -> None:
    """Make the star build take the window keys (`fits=True`) or the
    two-phase keys (`fits=False`) whatever the source's size, by patching
    the one decision function, `operators.keys.fits_one_task`, where the
    dim and fact builders bind it."""
    import sri_spark.etl.dims as dims
    import sri_spark.etl.fact as fact

    for module in (dims, fact):
        monkeypatch.setattr(module, "fits_one_task", lambda df: fits)
