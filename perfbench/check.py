"""Output check against the DuckDB twins.

Canonicalises a result exactly as ``frauddetection_spark.oracle.compare``
does, with both comparator legs, but splits the work so that the twin
side is computed once per run and the Spark side once per execution,
both outside every timer. A fingerprint keeps only column names, the row
count and a hash of each canonical leg, so a run holds no result frames.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd

from frauddetection_spark.oracle import _canon_frame, driver_canon_frame


@dataclass(frozen=True)
class Fingerprint:
    columns: tuple[str, ...]
    rows: int
    canon: str
    driver: str  # hash of the driver leg, or "error: ..." if it cannot sort


def _digest(lines: list[str]) -> str:
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def fingerprint(pdf: pd.DataFrame) -> Fingerprint:
    try:
        driver = _digest(driver_canon_frame(pdf))
    except TypeError as exc:
        driver = f"error: driver canonicalizer would crash: {exc}"
    return Fingerprint(
        tuple(sorted(pdf.columns)), len(pdf), _digest(_canon_frame(pdf)), driver
    )


def twin_fingerprint(con, sql: str) -> Fingerprint:
    return fingerprint(con.execute(sql).fetchdf())


def mismatch(got: Fingerprint, want: Fingerprint) -> str:
    """Empty when ``got`` matches its twin, else the first difference
    in the order ``oracle.compare`` tests them."""
    if got.columns != want.columns:
        return f"columns differ: spark={list(got.columns)} duckdb={list(want.columns)}"
    if got.rows != want.rows:
        return f"row count differs: spark={got.rows} duckdb={want.rows}"
    if got.canon != want.canon:
        return "values differ"
    if got.driver.startswith("error") or want.driver.startswith("error"):
        return got.driver if got.driver.startswith("error") else want.driver
    if got.driver != want.driver:
        return "driver-leg canonicalization differs"
    return ""
