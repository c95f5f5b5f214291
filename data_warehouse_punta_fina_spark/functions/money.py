"""Monetary math (reference SURVEY.md §2.8 math table).

The reference rounds money to 2 decimals at every derivation step
(`complete_fact_builder.py:316-317, :515-523`) and extracts 13% IVA from
tax-inclusive totals (`:309-318`). We standardize on DecimalType so sums
are exact and independent of partial-aggregation order — a float sum on a
1000-executor cluster is nondeterministic in its last bits; a decimal sum
is not.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

IVA_RATE = "0.13"  # El Salvador VAT, engine constant (reference `complete_fact_builder.py:309`)

MONEY_TYPE = "decimal(15,2)"


def money(col: Column | str, precision: int = 15, scale: int = 2) -> Column:
    """Cast to exact decimal money (NUMERIC(15,2) in the reference DDL,
    `docs/MAPPING_TABLAS_DW_REAL.md:623`)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def pround(col: Column | str, scale: int = 2, precision: int = 15) -> Column:
    """Portable half-up rounding: ``floor(x·10^s + 0.5) / 10^s`` as decimal.

    Spark's ``round`` (HALF_UP on the exact BigDecimal) and other engines'
    double rounding (e.g. nearbyint half-even) disagree on boundary values,
    which breaks cross-engine value-hash comparison. This formulation is
    pure IEEE multiply/add/floor — bit-identical on every engine — and the
    final double→decimal cast is exact because n/10^s round-trips.
    Verified row-exact vs DuckDB over the sf0.01 testdata.

    Known divergence (documented, not a bug for this pipeline): for
    NEGATIVE inputs ``floor(x·10^s + 0.5)`` rounds halves toward +inf
    (-2.345 → -2.34), while PostgreSQL ROUND(numeric) — the reference's
    semantics — rounds half away from zero (-2.345 → -2.35). Every
    monetary quantity in this pipeline is rounded while non-negative
    (fact_inventario negates AFTER pround2), so the divergence is
    unreachable; cross-engine parity with the DuckDB oracle holds for all
    inputs by construction since both sides evaluate this same formula.
    """
    c = F.col(col) if isinstance(col, str) else col
    factor = F.lit(10**scale)
    return (F.floor(c.cast("double") * factor + F.lit(0.5)) / factor).cast(
        f"decimal({precision},{scale})"
    )


def pround2(col: Column | str) -> Column:
    """Portable money rounding to DECIMAL(15,2)."""
    return pround(col, 2, 15)


def pround6(col: Column | str, precision: int = 12) -> Column:
    """Portable ratio rounding to DECIMAL(12,6)."""
    return pround(col, 6, precision)


def extract_iva(incl: Column | str) -> tuple[Column, Column]:
    """Split a tax-inclusive amount into (subtotal, iva) at 13%.

    subtotal = round(incl / 1.13, 2); iva = incl - subtotal
    (reference `complete_fact_builder.py:309-318`).
    """
    c = F.col(incl) if isinstance(incl, str) else incl
    subtotal = F.round(c / (F.lit(1) + F.expr(IVA_RATE)), 2)
    iva = money(c - subtotal)
    return money(subtotal), iva
