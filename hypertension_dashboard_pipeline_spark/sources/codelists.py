"""Codelists: concept-ID sets driving every cohort exclusion and the
phenotype evidence rules.

The reference loads these from Excel workbooks and splices them into
SQL text as IN-literals (2_data_importing_cleaning.R:204-269,
4_hypertension_phenotype_main.R:48-54). Here they are plain data — CSV/
Parquet files or Python sequences — consumed by
``operators.filters.codelist_predicate`` (one parsed ``IN`` expression
that Catalyst plans as an ``InSet`` hash probe at the scan, whatever
the list length); codelists kept as DataFrames go through
``operators.filters.codelist_filter``'s broadcast semi-join.

Only the blood-pressure measurement concepts and the mmHg unit are
fixed OMOP constants (3_blood_pressure.R:98,102,121,125); the
exclusion/phenotype lists are deployment inputs, so the loader accepts
any mapping of name → concept IDs.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..schemas import CODELIST

# OMOP concept IDs for systolic/diastolic BP (3_blood_pressure.R:98,121)
SBP_CONCEPTS = (4152194, 3004249, 4232915, 3018586)
DBP_CONCEPTS = (4154790, 3012888, 4248524, 3034703)
MMHG_UNIT_CONCEPT = 8876  # (3_blood_pressure.R:102,125)

# the codelist names the pipeline plans expect (FIXTURES.md table)
REQUIRED_LISTS = (
    "preg_condition",
    "preg_measurement",
    "preg_observation",
    "preg_procedure",
    "esrd_condition",
    "esrd_observation",
    "esrd_procedure",
    "palliative_observation",
    "palliative_procedure",
    "hospice_observation",
    "hospice_procedure",
    "htn_dx",
    "htn_rx",
)

Codelists = Mapping[str, Sequence[int]]


def load_codelists_csv(spark: SparkSession, paths: Mapping[str, str]) -> dict[str, list[int]]:
    """Load codelists from one-column CSV files (concept_id)."""
    out: dict[str, list[int]] = {}
    for name, path in paths.items():
        df = spark.read.csv(path, header=True, schema=CODELIST)
        out[name] = [int(r["concept_id"]) for r in df.collect()]
    return out


def load_codelists_xlsx(paths: Mapping[str, str]) -> dict[str, list[int]]:
    """Load codelists directly from Excel workbooks, matching the
    reference's ingestion shape (2_data_importing_cleaning.R:204-269:
    ``rio::import`` reads the first sheet with a header row, ``x[[1]]``
    takes the first column of concept IDs).

    Pure driver-side work over tiny files — the cluster only ever sees
    the resulting int lists (an ``InSet`` predicate via
    ``operators.filters.codelist_predicate``), so there is no
    distributed xlsx parsing to worry about at 100 TB.
    """
    from .xlsx import read_xlsx_rows

    out: dict[str, list[int]] = {}
    for name, path in paths.items():
        rows = read_xlsx_rows(path)
        codes: list[int] = []
        for row in rows[1:]:  # skip header row, take first column
            if not row or row[0] is None:
                continue
            codes.append(int(row[0]))
        out[name] = codes
    return out


def as_dataframe(spark: SparkSession, codes: Sequence[int]) -> DataFrame:
    """Codelist as a (broadcastable) single-column DataFrame."""
    return spark.createDataFrame([(int(c),) for c in codes], schema=CODELIST)
