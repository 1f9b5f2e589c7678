"""Filter operators (reference P5-P13, SURVEY.md §2.2).

Every filter here is a plain Column predicate — Catalyst pushes them
into the Parquet scan (PushedFilters) and prunes partitions, which is
what makes these safe at 100 TB: selectivity is applied before rows
ever reach a shuffle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def not_null(df: DataFrame, *cols: str) -> DataFrame:
    """Reference P5: ``filter(!is.na(PATIENT_LINKAGE))``
    (2_data_importing_cleaning.R:80-81)."""
    out = df
    for c in cols:
        out = out.filter(F.col(c).isNotNull())
    return out


def codelist_predicate(col: str, codes: Sequence[int]) -> Column:
    """Concept-ID membership as one predicate Column.

    The list is spliced into a single parsed ``col IN (…)`` expression,
    which Catalyst turns into an ``InSet`` (hash-set probe) and pushes
    to the scan.  ``Column.isin`` builds the same plan with one py4j
    call per literal: filtering on a 914-code list took 0.44 s that
    way against 0.06 s for the parsed form (Spark 4.1.2, warm local
    session, 4-vCPU VM), paid on every plan build.  An empty codelist
    matches nothing.
    """
    codes = [int(c) for c in codes]
    if not codes:
        return F.lit(False)
    return F.expr(f"`{col}` IN ({', '.join(map(str, codes))})")


def codelist_filter(df: DataFrame, col: str,
                    codes: Sequence[int] | DataFrame,
                    code_col: str = "concept_id") -> DataFrame:
    """Reference P9/J8: concept-ID membership against a codelist.

    The reference splices codelists into SQL text as IN-literals
    (2_data_importing_cleaning.R:209,299) — a manual broadcast. Here a
    Python list becomes :func:`codelist_predicate` (an ``InSet`` pushed
    to the scan, whatever its length); a codelist DataFrame becomes an
    explicitly-broadcast LEFT SEMI join, the form for lists that live
    in tables.
    """
    if isinstance(codes, DataFrame):
        probe = codes.select(F.col(code_col).alias(col)).distinct()
        return df.join(F.broadcast(probe), on=col, how="left_semi")
    return df.filter(codelist_predicate(col, codes))


def year_predicate(date_col: str, years: Sequence[int]) -> Column:
    """``YEAR(d) IN (...)`` as a reusable predicate Column."""
    return F.year(F.col(date_col)).isin(list(years))


def year_in(df: DataFrame, date_col: str, years: Sequence[int]) -> DataFrame:
    """Reference P10: ``YEAR(d) IN (...)`` (3_blood_pressure.R:100).

    On year-partitioned tables (io.write_partitioned) this prunes
    partitions; on flat tables it pushes to the row-group stats.
    """
    return df.filter(year_predicate(date_col, years))


def plausibility_band(df: DataFrame, col: str, lo: float, hi: float,
                      strict_integers: bool = False) -> DataFrame:
    """Reference P12: drop biologically implausible measurements
    (``SBP %in% 30:300``, 3_blood_pressure.R:143-151).

    R's ``%in% 30:300`` is integer-set membership (drops 120.5); the
    documented intent is a plausibility *band*, which is the engine
    default. ``strict_integers=True`` reproduces the literal R
    semantics (SURVEY.md §2.10-2).
    """
    c = F.col(col)
    cond = c.isNotNull() & c.between(lo, hi)
    if strict_integers:
        cond = cond & (c == F.floor(c))
    return df.filter(cond)


def band_predicate(col: str, lo: float, hi: float) -> Column:
    """The plausibility band as a reusable predicate Column."""
    c = F.col(col)
    return c.isNotNull() & c.between(lo, hi)
