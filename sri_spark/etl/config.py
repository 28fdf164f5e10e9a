"""Pipeline configuration.

Two semantic modes (SURVEY §7.1):

- ``parity`` — reproduce the reference's observable behavior exactly,
  including its quirks (SURVEY §1.3 Q1–Q5): run-date stamping of every fact
  row, pandas float/NaN stringification ('10701.0', 'nan', 'NAN'),
  clean-after-dedup dims, and m:m lookup fan-out.
- ``fixed`` — same star schema with the quirks repaired: real M/d/yyyy date
  parsing, canonical integer canton codes, clean-before-dedup, lookup dims
  deduplicated on their join keys (1:1 lookups, no fan-out).

``run_date`` replaces the reference's ``datetime.now().date()`` (reference
dags/sri_vehiculos_etl_dag.py:462-463) so parity outputs are deterministic.

The surrogate-key path and the lookup join strategies are not options: the
build picks them from what it can observe, the source's planned size
(`operators.keys.fits_one_task`) and which dims stay bounded as the data
grows (`etl/fact.py::_RI_LOOKUPS`).
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass


@dataclass(frozen=True)
class EtlConfig:
    mode: str = "fixed"  # "parity" | "fixed"
    run_date: dt.date = dt.date(2025, 7, 2)  # the reference's recorded run day
    # reference semantics fill unmatched lookup FKs with 1 before loading,
    # which makes null-FK validation vacuous (the reference's own check never
    # fires). False keeps misses as nulls, so the null-FK counts observed in
    # the fact write are real and the max_null_percentage threshold (the
    # `gate=` of write_star, or quality_report(enforce=True)) actually gates
    fill_missing_fk: bool = True

    def __post_init__(self) -> None:
        if self.mode not in ("parity", "fixed"):
            raise ValueError(f"mode must be 'parity' or 'fixed', got {self.mode!r}")

    @property
    def parity(self) -> bool:
        return self.mode == "parity"
