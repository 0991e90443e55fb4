"""Data-release governance operators, in both engines.

``small_cell_suppress`` is the CMS small-cell release gate (cells under
``MIN_CELL`` members suppressed, plus one complementary round per
stratum so a stratum total with exactly ONE suppressed cell cannot be
subtracted back) as a composable operator over ANY aggregated cell
table; ``small_cell_suppress_sql`` is its DuckDB twin. hq45 (county x
measure), hq46 (status rosters), hq47 (plan x county cost) and hq48
(per-plan outliers, global stratum) bolt the gate onto their cell
tables through this pair instead of re-implementing the rule.

Scale notes (100 TB): suppression runs on an already-aggregated cell
table (geography × measure × plan-sized — bounded, nowhere near data
scale); the windows partition by the stratum columns and the operator
adds no corpus-scale shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The CMS cell-size rule for beneficiary-level derivatives: a cell
# releases only with at least this many members.
MIN_CELL = 11


def small_cell_suppress(
    cells: DataFrame,
    k: int = MIN_CELL,
    stratum_cols: Sequence[str] = ("county",),
    cell_cols: Sequence[str] = ("measure_id",),
    n_col: str = "n",
    mask_cols: Sequence[str] = (),
) -> DataFrame:
    """CMS small-cell suppression over an aggregated cell table.

    PRIMARY: any cell with ``n_col`` < k is suppressed. COMPLEMENTARY:
    within a stratum (``stratum_cols`` group) holding EXACTLY ONE
    primary cell, the smallest unsuppressed cell (ties → lowest
    ``cell_cols``) is suppressed too, otherwise the stratum total
    lets readers subtract the primary cell back. Suppressed rows
    release NULL for the count and every ``mask_cols`` value, plus a
    reason tag ('primary' / 'complementary'); released rows pass
    through unchanged — the downstream publisher never sees a small
    count at all.

    Output columns: stratum_cols + cell_cols + ``released_<n_col>`` +
    ``released_<c>`` per mask col + suppressed + suppression."""
    prim = cells.withColumn("_is_primary", F.col(n_col) < k)
    w_cnt = Window.partitionBy(*stratum_cols)
    order_keys = [
        F.when(F.col("_is_primary"), F.lit(None))
        .otherwise(F.col(c))
        .asc_nulls_last()
        for c in (n_col, *cell_cols)
    ]
    marked = prim.withColumn(
        "_n_prim", F.sum(F.col("_is_primary").cast("long")).over(w_cnt)
    ).withColumn(
        "_rn_small",
        F.when(
            ~F.col("_is_primary"),
            F.row_number().over(
                Window.partitionBy(*stratum_cols).orderBy(*order_keys)
            ),
        ),
    )
    is_comp = (F.col("_n_prim") == 1) & (F.col("_rn_small") == 1)
    suppressed = F.col("_is_primary") | is_comp
    return marked.select(
        *stratum_cols,
        *cell_cols,
        F.when(~suppressed, F.col(n_col)).cast("long").alias(f"released_{n_col}"),
        *[
            F.when(~suppressed, F.col(c)).alias(f"released_{c}")
            for c in mask_cols
        ],
        suppressed.alias("suppressed"),
        F.when(F.col("_is_primary"), F.lit("primary"))
        .when(is_comp, F.lit("complementary"))
        .alias("suppression"),
    )


def small_cell_suppress_sql(
    cells: str,
    stratum_cols: Sequence[str],
    cell_cols: Sequence[str],
    mask_cols: Sequence[str] = (),
) -> str:
    """``small_cell_suppress`` at the default ``k`` over the ``cells``
    CTE (count column ``n``): CTEs ``prim``, ``cnt`` and ``comp``, then
    the SELECT of the Spark operator's columns, unordered. An empty
    ``stratum_cols`` is one global stratum."""
    cols = (*stratum_cols, *cell_cols)
    keys = ", ".join(f"p.{c}" for c in cols)
    strata = "".join(f"{c}, " for c in stratum_cols)
    group, over = "", ""
    if stratum_cols:
        group = f" GROUP BY {', '.join(stratum_cols)}"
        over = f"PARTITION BY {', '.join(f'p.{c}' for c in stratum_cols)} "
    on = " AND ".join(f"c.{c} = p.{c}" for c in stratum_cols) or "TRUE"
    match = " AND ".join(f"co.{c} = p.{c}" for c in cols)
    order = ", ".join(f"p.{c}" for c in ("n", *cell_cols))
    released = "".join(
        f"CASE WHEN p.is_primary OR co.rn_small = 1 THEN NULL ELSE p.{c} END"
        f" AS released_{c},\n           "
        for c in ("n", *mask_cols)
    )
    return f"""prim AS (SELECT *, n < {MIN_CELL} AS is_primary FROM {cells}),
    cnt AS (SELECT {strata}SUM(CASE WHEN is_primary THEN 1 ELSE 0 END)
                   AS n_prim FROM prim{group}),
    comp AS (
      SELECT {keys},
             ROW_NUMBER() OVER ({over}ORDER BY {order}) AS rn_small
      FROM prim p JOIN cnt c ON {on}
      WHERE NOT p.is_primary AND c.n_prim = 1
    )
    SELECT {keys},
           {released}CAST(p.is_primary OR COALESCE(co.rn_small, 0) = 1
                AS BOOLEAN) AS suppressed,
           CASE WHEN p.is_primary THEN 'primary'
                WHEN co.rn_small = 1 THEN 'complementary'
                END AS suppression
    FROM prim p
    LEFT JOIN comp co ON {match}
"""
