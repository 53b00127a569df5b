"""Cross-engine-stable scalar helpers.

``ROUND(x, s)`` is NOT portable at decimal tie points: Spark rounds
half-up on the decimal rendering of the double (BigDecimal.valueOf), DuckDB
rounds half-even — e.g. the double 0.60425 rounds to 0.6043 in Spark and
0.6042 in DuckDB. Ratios of small integers (k/32, k/20000, …) land on
those ties constantly.

``q()`` / ``q_sql()`` quantize with FLOOR(x·10^s + 0.5)/10^s instead: both
engines then execute the same IEEE-754 double ops on the same input double,
so results are bit-identical — no tie-break semantics involved. Signed
values are fine as long as BOTH sides use q (the formula rounds a -.5 tie
toward +inf, deterministically on both engines — it just isn't the same
convention as either engine's ROUND, so never mix q on one side with ROUND
on the other).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def q(col: Column, scale: int = 4) -> Column:
    """Deterministic cross-engine quantization of a non-negative double."""
    factor = float(10**scale)
    return (F.floor(col * factor + 0.5) / factor).cast("double")


def q_sql(expr: str, scale: int = 4) -> str:
    """DuckDB-side twin of :func:`q` (keep both in sync)."""
    factor = float(10**scale)
    return f"(FLOOR(({expr}) * {factor} + 0.5) / {factor})"


def money_cents(col: Column | str) -> Column:
    """Per-row half-up quantization of a 2-decimal money double to BIGINT
    cents — the input doubles are identical on both engines, so the cents
    are identical, and every downstream sum is order-free integer math."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c * 100 + 0.5).cast("long")


def rev_e4(price: str = "l_extendedprice", disc: str = "l_discount") -> Column:
    """TPC-H revenue term price·(1−discount) in EXACT 1e-4 units:
    cents × (100 − integer-percent). Sums of this BIGINT are order-free;
    display via one deterministic division by 10000.0. Introduced in r6
    after the sf0.1 oracle run caught the ROUND(SUM(4-decimal), 2) knife
    edge (see q1_pricing_summary docstring for the failure mechanics)."""
    return money_cents(price) * (100 - money_cents(disc))


def rev_e4_sql(price: str, disc: str) -> str:
    """DuckDB twin of :func:`rev_e4` (keep in sync)."""
    return (
        f"(CAST(FLOOR({price} * 100 + 0.5) AS BIGINT)"
        f" * (100 - CAST(FLOOR({disc} * 100 + 0.5) AS BIGINT)))"
    )
