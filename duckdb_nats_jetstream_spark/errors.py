"""Bind-time validation errors, mirroring the reference's constraint matrix
(ref:src/nats_scan.cpp:207-285 — missing stream, seq+time mixed, json+proto
both set, proto_extract without schema, unknown field paths).

The reference throws at DuckDB bind time; we raise before job submission so a
bad scan never reaches the cluster.
"""

from __future__ import annotations


class BindError(ValueError):
    """Raised for invalid scan/extraction parameter combinations."""


def require(condition: bool, message: str) -> None:
    if not condition:
        raise BindError(message)


def require_new_columns(existing: list[str], names: list[str], what: str) -> None:
    """Bind-time check on the columns an extraction appends: distinct
    among themselves (dots map to underscores, so ``a.b`` and ``a_b``
    collide) and none shadowing an ``existing`` column. Either would emit
    two same-named columns that fail far from the call with an
    ambiguous-reference error."""
    dupes = sorted({n for n in names if names.count(n) > 1})
    require(
        not dupes,
        f"{what} produces duplicate column(s) {dupes} (dots map to underscores)",
    )
    clash = sorted(set(names) & set(existing))
    require(
        not clash,
        f"{what} output column(s) {clash} collide with existing columns; "
        "rename or drop them before extraction",
    )
