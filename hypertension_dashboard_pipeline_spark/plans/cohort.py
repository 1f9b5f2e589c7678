"""Cohort build (reference script 2, 2_data_importing_cleaning.R).

Stages, each a pure DataFrame → DataFrame function so tests can pin
intermediate counts (the reference's manual QC idiom, SURVEY.md §5):

1. base population: projection + quote-trim + null-key filter
   (2_data_importing_cleaning.R:61-81)
2. mis-bridge cleanup: drop patients whose YOB/SEX/RACE conflict
   across rows; collapse remaining multi-rows (STATE/ZIP-only
   conflicts) to one deterministic survivor
   (2_data_importing_cleaning.R:85-161)
3. adult filter (YOB ≤ year-18, :186-187)
4. exclusions — pregnancy (women 18-44 only), ESRD, palliative/
   hospice care (:283-620) — read from ONE evidence table: each domain
   table is filtered once by the OR of its codelist × year predicates
   and projects (key, preg, esrd, care) booleans; the four projections
   are unioned and reduced per key. One left join then drops every
   excluded patient.
5. presentation labels: age, sex/race recodes, ZIP3 de-quote
   (:640-658)

Dataflow: ``person`` → one groupBy(key) (mis-bridge check and located
survivor in the same aggregation) → adults; ``condition``,
``measurement``, ``observation``, ``procedure`` → one filtered scan
each → union → one groupBy(key); left join of the two on the key.

Scale: each input table is scanned once and each side shuffles once on
the high-cardinality patient key; the plan holds one sort-merge (or,
for a small evidence side, broadcast) join. Codelists are ``InSet``
predicates evaluated at the scan. Nothing touches the driver.
"""

from __future__ import annotations

from collections.abc import Mapping
from functools import reduce
from operator import and_, or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import age_from_birth_year, recode, trim_chars
from ..operators import filters as flt
from ..operators import joins as jn
from ..sources.codelists import Codelists

KEY = "PATIENT_LINKAGE"

RACE_RECODE = {
    "AFRICAN AMERICAN": "Black",
    "CAUCASIAN": "White",
    "ASIAN": "Asian",
    "HISPANIC": "Hispanic",
    "OTHER": "Other",
    "UNKNOWN": "Unknown",
}
SEX_RECODE = {"F": "Female", "M": "Male"}


def base_population(person: DataFrame) -> DataFrame:
    """Projection with quote-trim + null-key filter
    (2_data_importing_cleaning.R:61-81: TRIM(col,'\"') in the SELECT,
    then filter(!is.na(PATIENT_LINKAGE)))."""
    pop = person.select(
        F.col(KEY),
        F.col("YEAR_OF_BIRTH"),
        trim_chars("ETHNICITY_SOURCE_VALUE").alias("RACE"),
        trim_chars("GENDER_SOURCE_VALUE").alias("SEX"),
        trim_chars("LOCATION_ZIP").alias("ZIP3"),
        F.col("LOCATION_STATE").alias("STATE"),
    )
    return flt.not_null(pop, KEY)


IDENTITY = ("YEAR_OF_BIRTH", "SEX", "RACE")

# exclusion evidence: (flag, domain table, codelist, look-back years
# before the measurement year).
# Pregnancy counts in the measurement year only; ESRD and care also in
# the look-back year, like the reference's 2022-2023 window.
EVIDENCE = (
    ("preg", "condition", "preg_condition", 0),
    ("preg", "measurement", "preg_measurement", 0),
    ("preg", "observation", "preg_observation", 0),
    ("preg", "procedure", "preg_procedure", 0),
    ("esrd", "condition", "esrd_condition", 1),
    ("esrd", "observation", "esrd_observation", 1),
    ("esrd", "procedure", "esrd_procedure", 1),
    # the reference's undefined-variable bug at :610 drops one list;
    # the intent, both lists, is implemented (SURVEY.md §2.10-5d)
    ("care", "observation", "palliative_observation", 1),
    ("care", "procedure", "palliative_procedure", 1),
    ("care", "observation", "hospice_observation", 1),
    ("care", "procedure", "hospice_procedure", 1),
)
FLAGS = ("preg", "esrd", "care")

# domain table → (concept column, date column)
DOMAIN_COLS = {
    "condition": ("CONDITION_CONCEPT_ID", "CONDITION_START_DATE"),
    "measurement": ("MEASUREMENT_CONCEPT_ID", "MEASUREMENT_DATE"),
    "observation": ("OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"),
    "procedure": ("PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"),
}


def drop_misbridged(pop: DataFrame) -> DataFrame:
    """Mis-bridge cleanup (2_data_importing_cleaning.R:85-161) as one
    aggregation per patient key.

    A patient key appearing with conflicting YEAR_OF_BIRTH / SEX / RACE
    is a bad linkage → dropped entirely (the reference's
    ``n_distinct == 1`` on each, over non-NULL values: ``min == max``).
    The identity columns come from ``max`` over all the key's rows —
    with one distinct value that is the value, even when another row
    of the key holds a NULL there.
    Rows with missing STATE or ZIP3 cannot be the survivor
    (2_data_importing_cleaning.R:147-148, ``filter(!is.na(STATE) &
    !is.na(ZIP3))``) — a patient whose every row lacks location leaves
    the cohort here, exactly as in the reference.  Remaining STATE/ZIP3
    conflicts are tolerated → the survivor is the smallest located
    (STATE, ZIP3) pair (the reference keeps an arbitrary one;
    SURVEY.md §2.10-4).
    """
    located = F.col("STATE").isNotNull() & F.col("ZIP3").isNotNull()
    per = pop.groupBy(KEY).agg(
        *[F.max(c).alias(c) for c in IDENTITY],
        *[F.min(c).alias(f"__min_{c}") for c in IDENTITY],
        F.min(F.when(located, F.struct("STATE", "ZIP3"))).alias("__loc"),
    )
    consistent = reduce(and_, [F.col(f"__min_{c}") == F.col(c) for c in IDENTITY])
    return per.filter(consistent & F.col("__loc").isNotNull()).select(
        KEY, "YEAR_OF_BIRTH", "RACE", "SEX",
        F.col("__loc.ZIP3").alias("ZIP3"), F.col("__loc.STATE").alias("STATE"),
    )


def adults(pop: DataFrame, year: int = 2023) -> DataFrame:
    """Age ≥ 18 (YEAR_OF_BIRTH ≤ year-18, 2_data_importing_cleaning.R:186-187)."""
    return pop.filter(F.col("YEAR_OF_BIRTH") <= year - 18)


def reproductive_age_women(year: int = 2023) -> Column:
    """Women aged 18-44, the pregnancy exclusion's denominator
    (2_data_importing_cleaning.R:195-198)."""
    return (F.col("YEAR_OF_BIRTH").between(year - 44, year - 18)
            & (F.col("SEX") == "F"))


def exclusion_evidence(domains: Mapping[str, DataFrame], codelists: Codelists,
                       year: int = 2023) -> DataFrame:
    """One row per patient key with any exclusion evidence: (key,
    preg, esrd, care) booleans, each true when some domain row carries
    a code from that exclusion's codelists in its years
    (2_data_importing_cleaning.R:283-611, the reference's per-list
    ``(key,'1')`` queries).

    ``domains`` maps domain names (``DOMAIN_COLS``) to tables; evidence
    from absent domains is simply not looked for.  Each table is read
    once: it projects the three flags (each the OR of that flag's
    codelist × year predicates) and keeps rows where any holds —
    Catalyst pushes that filter into the scan.  The unioned projections
    reduce with one ``groupBy(key).max``.
    """
    parts = []
    for name, df in domains.items():
        concept_col, date_col = DOMAIN_COLS[name]
        preds: dict[str, list[Column]] = {f: [] for f in FLAGS}
        for flag_name, domain, codelist, back in EVIDENCE:
            if domain == name:
                preds[flag_name].append(
                    flt.codelist_predicate(concept_col, codelists[codelist])
                    & flt.year_predicate(date_col, range(year - back, year + 1))
                )
        hits = df.select(KEY, *[
            (reduce(or_, ps) if ps else F.lit(False)).alias(f)
            for f, ps in preds.items()
        ])
        parts.append(hits.filter(reduce(or_, [F.col(f) for f in FLAGS])))
    return (
        reduce(DataFrame.unionByName, parts)
        .groupBy(KEY)
        .agg(*[F.max(f).alias(f) for f in FLAGS])
    )


def _evidence_keys(evidence: DataFrame, flag_name: str) -> DataFrame:
    return evidence.filter(F.col(flag_name)).select(KEY)


def pregnancy_exclusion_keys(cohort: DataFrame, condition: DataFrame,
                             measurement: DataFrame, observation: DataFrame,
                             procedure: DataFrame, codelists: Codelists,
                             year: int = 2023) -> DataFrame:
    """Pregnancy evidence among women of reproductive age (18-44) of
    ``cohort``: a view of :func:`exclusion_evidence`
    (2_data_importing_cleaning.R:195-198, 283-400)."""
    evidence = exclusion_evidence(
        {"condition": condition, "measurement": measurement,
         "observation": observation, "procedure": procedure},
        codelists, year,
    )
    wra = cohort.filter(reproductive_age_women(year)).select(KEY)
    return jn.has_evidence(_evidence_keys(evidence, "preg"), wra, KEY)


def esrd_exclusion_keys(condition: DataFrame, observation: DataFrame,
                        procedure: DataFrame, codelists: Codelists,
                        year: int = 2023) -> DataFrame:
    """End-stage renal disease evidence, any adult
    (2_data_importing_cleaning.R:409-484): a view of
    :func:`exclusion_evidence`."""
    evidence = exclusion_evidence(
        {"condition": condition, "observation": observation,
         "procedure": procedure},
        codelists, year,
    )
    return _evidence_keys(evidence, "esrd")


def care_exclusion_keys(observation: DataFrame, procedure: DataFrame,
                        codelists: Codelists, year: int = 2023) -> DataFrame:
    """Palliative/hospice care evidence
    (2_data_importing_cleaning.R:526-611): a view of
    :func:`exclusion_evidence`."""
    evidence = exclusion_evidence(
        {"observation": observation, "procedure": procedure}, codelists, year,
    )
    return _evidence_keys(evidence, "care")


def apply_exclusions(cohort: DataFrame, evidence: DataFrame,
                     year: int = 2023) -> DataFrame:
    """Drop patients with ESRD or care evidence, and women of
    reproductive age with pregnancy evidence — one left join on the
    key in place of the reference's per-exclusion anti-joins
    (2_data_importing_cleaning.R:399-400)."""
    excluded = F.coalesce(
        (F.col("preg") & reproductive_age_women(year))
        | F.col("esrd") | F.col("care"),
        F.lit(False),
    )
    return (
        jn.enrich(cohort, evidence, KEY)
        .filter(~excluded)
        .select(*cohort.columns)
    )


def clean_labels(cohort: DataFrame, year: int = 2023) -> DataFrame:
    """Presentation columns (2_data_importing_cleaning.R:640-658):
    derived age, human-readable sex/race, de-quoted ZIP3."""
    return cohort.select(
        KEY,
        age_from_birth_year("YEAR_OF_BIRTH", year).alias("age"),
        recode("SEX", SEX_RECODE).alias("sex"),
        recode("RACE", RACE_RECODE).alias("race"),
        F.col("STATE").alias("state"),
        F.col("ZIP3").alias("zip3"),
    )


def build_cohort(person: DataFrame, condition: DataFrame,
                 measurement: DataFrame, observation: DataFrame,
                 procedure: DataFrame, codelists: Codelists,
                 year: int = 2023) -> DataFrame:
    """Script-2 end-to-end: eligible adult cohort with clean labels."""
    grown = adults(drop_misbridged(base_population(person)), year)
    evidence = exclusion_evidence(
        {"condition": condition, "measurement": measurement,
         "observation": observation, "procedure": procedure},
        codelists, year,
    )
    return clean_labels(apply_exclusions(grown, evidence, year), year)
