"""Exact robust statistics, in both engines: the ceil-rank median and
the median/MAD outlier gate.

The median is d41's integer-rank PERCENTILE_DISC: the value at row
``(n * 50 + 99) div 100`` of the group ordered by (value, tiebreak),
so a tie never depends on the engine's sort. The MAD is the same
median taken over ``ad = |value - med|`` (tiebreak again breaking
ties), and a row is an outlier when ``ad > 3 * 1.4826 * MAD``, applied
as integer cross-multiplication (``ad * 10000 > 3 * 14826 * mad``) so
the gate never touches a float.

``by=()`` is the global form (one population: the medians attach by
a cross join, as in hq34/hq48); ``by=("lang",)`` computes one median
and MAD per group (d79). Each Spark function has a DuckDB twin
returning comma-joinable CTE text (no ``WITH`` keyword), as in
``operators/curation.py``.

Scale note: the rank windows are the honest cost of exact order
statistics (a global window runs on one task); the per-group medians
broadcast back as one row per group. d76's histogram sketch is the
bounded-error answer at corpus scale.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# 1.4826 (the normal-consistency constant of the MAD) times 10^4.
MAD_SCALE = 14826


def ranked(
    values: DataFrame, value: str, tiebreak: str, by: Sequence[str] = ()
) -> DataFrame:
    """``values`` as (*by, value, rn, n): ``rn`` the row's position in
    its group ordered by (value, tiebreak), ``n`` the group size."""
    return values.select(
        *by,
        value,
        F.row_number()
        .over(Window.partitionBy(*by).orderBy(value, tiebreak))
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*by)).alias("n"),
    )


def at_median(value: str) -> Column:
    """Aggregate over a ``ranked`` group: its ceil-rank median."""
    return F.max(
        F.when(F.col("rn") == F.expr("(n * 50 + 99) div 100"), F.col(value))
    )


def _attach(df: DataFrame, stats: DataFrame, by: Sequence[str]) -> DataFrame:
    """``df`` with the per-group (or, for ``by=()``, the one) row of
    ``stats`` attached."""
    if by:
        return df.join(F.broadcast(stats), list(by))
    return df.crossJoin(F.broadcast(stats))


def mad_frame(
    values: DataFrame, value: str, tiebreak: str, by: Sequence[str] = ()
) -> DataFrame:
    """Every row of ``values`` as (*by, tiebreak, value, ad, med, mad):
    its group's median ``med``, its absolute deviation ``ad`` and the
    group's MAD ``mad`` (the median of ``ad``)."""
    med = ranked(values, value, tiebreak, by).groupBy(*by).agg(
        at_median(value).alias("med")
    )
    dev = _attach(values, med, by).select(
        *by,
        tiebreak,
        value,
        F.abs(F.col(value) - F.col("med")).alias("ad"),
        "med",
    )
    mad = ranked(dev, "ad", tiebreak, by).groupBy(*by).agg(
        at_median("ad").alias("mad")
    )
    return _attach(dev, mad, by)


def outlier() -> Column:
    """Over a ``mad_frame``: the row deviates by more than 3 scaled
    MADs."""
    return F.col("ad") * 10000 > 3 * MAD_SCALE * F.col("mad")


# ------------------------------------------------------------ DuckDB twins


def ranked_sql(
    name: str, source: str, value: str, tiebreak: str, by: Sequence[str] = ()
) -> str:
    """``{name}``(*by, value, rn, n): ``ranked`` over ``source``."""
    keys = "".join(f"{c}, " for c in by)
    over = f"PARTITION BY {', '.join(by)}" if by else ""
    return f"""{name} AS (
      SELECT {keys}{value},
             row_number() OVER ({over} ORDER BY {value}, {tiebreak}) AS rn,
             COUNT(*) OVER ({over}) AS n
      FROM {source}
    )"""


def at_median_sql(value: str) -> str:
    """``at_median`` over a ``ranked_sql`` CTE."""
    return f"MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN {value} END)"


def mad_sql(
    source: str, value: str, tiebreak: str, by: Sequence[str] = ()
) -> str:
    """``mad_frame``'s chain over ``source``: ``r1``, ``med``(*by, med),
    ``dev``(*by, tiebreak, value, ad), ``r2`` and ``mad``(*by, mad).
    The caller attaches ``med``/``mad`` to ``dev`` on the ``by``
    columns."""
    keys = "".join(f"{c}, " for c in by)
    group = f" GROUP BY {', '.join(by)}" if by else ""
    attach = f" JOIN med USING ({', '.join(by)})" if by else ", med"
    return f"""{ranked_sql("r1", source, value, tiebreak, by)},
    med AS (SELECT {keys}{at_median_sql(value)} AS med FROM r1{group}),
    dev AS (
      SELECT {keys}{tiebreak}, {value}, abs({value} - med) AS ad
      FROM {source}{attach}
    ),
    {ranked_sql("r2", "dev", "ad", tiebreak, by)},
    mad AS (SELECT {keys}{at_median_sql("ad")} AS mad FROM r2{group})"""


def outlier_sql(ad: str, mad: str) -> str:
    """``outlier`` over the ``ad`` and ``mad`` column expressions."""
    return f"{ad} * 10000 > 3 * {MAD_SCALE} * {mad}"
