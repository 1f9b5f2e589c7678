"""Hypertension e-phenotype (reference script 4,
4_hypertension_phenotype_main.R).

Evidence: a hypertension diagnosis code in the measurement year
(:62-81), an anti-hypertensive prescription in the measurement year
(:92-110), or the BP-based flag from script 3. The final phenotype is
the OR of the three (:150-160), with every input NULL-filled to 0
first — the reference fills only DX and MEDS (:139-144), leaving NA
phenotypes for look-back-only patients; the engine makes all flags
deterministic 0/1 (SURVEY.md §2.10-1).

Dataflow: ``condition`` and ``drug_exposure`` are each filtered once
(codelist + year) and project (key, HTN_DX, HTN_MEDS) indicators; the
union reduces with one groupBy(key).max, and one left join attaches it
to the BP flags.

Scale: one shuffle of the (small) evidence union on the patient key
and one patient-keyed join; codelists are ``InSet`` predicates at the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import flag
from ..operators import aggregates as agg
from ..operators import filters as flt
from ..operators import joins as jn
from ..sources.codelists import Codelists

KEY = "PATIENT_LINKAGE"
EVIDENCE_COLS = ("HTN_DX", "HTN_MEDS")


def phenotype_evidence(condition: DataFrame, drug_exposure: DataFrame,
                       codelists: Codelists, year: int = 2023) -> DataFrame:
    """One row per patient with DX or MEDS evidence in the year, 0/1 per
    source (the reference's ``SELECT DISTINCT key, '1' AS flag``
    queries, 4_hypertension_phenotype_main.R:65-76 and :95-106 — flags
    standardized to int)."""
    def hits(df: DataFrame, concept_col: str, date_col: str, codes,
             out_col: str) -> DataFrame:
        return df.filter(
            flt.codelist_predicate(concept_col, codes)
            & flt.year_predicate(date_col, [year])
        ).select(KEY, *[F.lit(int(c == out_col)).alias(c)
                        for c in EVIDENCE_COLS])

    union = hits(
        condition, "CONDITION_CONCEPT_ID", "CONDITION_START_DATE",
        codelists["htn_dx"], "HTN_DX",
    ).unionByName(hits(
        drug_exposure, "DRUG_CONCEPT_ID", "DRUG_EXPOSURE_START_DATE",
        codelists["htn_rx"], "HTN_MEDS",
    ))
    return union.groupBy(KEY).agg(*[F.max(c).alias(c) for c in EVIDENCE_COLS])


def build_phenotype(bp_flags: DataFrame, condition: DataFrame,
                    drug_exposure: DataFrame, codelists: Codelists,
                    year: int = 2023) -> DataFrame:
    """Script-4 end-to-end: per-patient phenotype flags."""
    evidence = phenotype_evidence(condition, drug_exposure, codelists, year)
    merged = (
        jn.enrich(bp_flags, evidence, KEY)
        .fillna({c: 0 for c in EVIDENCE_COLS})
    )
    return merged.withColumn(
        "hypertension_140",
        flag((F.col("HTN_DX") == 1) | (F.col("HTN_MEDS") == 1)
             | (F.col("HTN140_90") == 1)),
    ).withColumn(
        "hypertension_130",
        flag((F.col("HTN_DX") == 1) | (F.col("HTN_MEDS") == 1)
             | (F.col("HTN130_80") == 1)),
    )


def phenotype_stats(phenotype: DataFrame,
                    col: str = "hypertension_140") -> DataFrame:
    """Prevalence frequency table with totals row — the reference's
    tabyl + adorn_totals output (4_hypertension_phenotype_main.R:182-186)."""
    return agg.freq_table_with_total(phenotype, col)
