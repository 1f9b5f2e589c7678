"""Blood-pressure flags (reference script 3, 3_blood_pressure.R).

Steps (3_blood_pressure.R:82-412):

1. extract SBP/DBP readings — concept codelist + mmHg unit + a
   [year-1, year] look-back window (:85-127; the reference filters the
   wrong date column by copy-paste, SURVEY.md §2.10-5b — the intent,
   MEASUREMENT_DATE, is implemented)
2. plausibility bands — SBP 30-300, DBP 20-150, nulls dropped
   (:143-151; band semantics per SURVEY.md §2.10-2)
3. same-day averaging per (patient, date), half-even rounded to 1
   decimal like R (:168-174)
4. SBP/DBP pairing on (patient, date) (:203-205); unpaired days drop
5. measurement-year visit flags — hbp140 = SBP≥140 | DBP≥90,
   hbp130 = SBP≥130 | DBP≥80 (:275-277,309-311; the reference's
   hbp130-from-high140a slip, §2.10-5c, is implemented as intended)
6. per-patient HTN flags — ≥2 distinct high days (:286-290,320-324)
7. control flags — latest measurement-year visit below threshold
   (:347-363,377-389)

Patients with paired BP only in the look-back year stay in the BP
denominator with flags 0 (the reference leaves them NA; §2.10-1).

Dataflow: one scan of ``measurement`` (SBP ∪ DBP concepts, mmHg,
look-back years, either side's band) → one groupBy(patient, date)
computing both sides' averages (steps 1-4: a day pairs when both are
non-NULL) → one groupBy(patient) computing the denominator, both HTN
counts and the latest measurement-year visit as
``max(struct(date, SBP, DBP))`` (steps 5-7) → one left join onto the
cohort.

Scale: two hash aggregations, each partial-aggregated map-side and
shuffled once, and one patient-keyed join. No windows over the full
table, no driver round-trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import flag
from ..operators import filters as flt
from ..operators import joins as jn
from ..sources.codelists import DBP_CONCEPTS, MMHG_UNIT_CONCEPT, SBP_CONCEPTS

KEY = "PATIENT_LINKAGE"
DATE = "MEASUREMENT_DATE"
VALUE = "VALUE_AS_NUMBER"

FLAG_COLS = ("has_bp", "HTN140_90", "HTN130_80", "HTNcontrol140",
             "HTNcontrol130")


def paired_daily_bp(measurement: DataFrame, year: int = 2023) -> DataFrame:
    """Same-day (patient, date, SBP, DBP) rows over the look-back window:
    each side is the half-even 1dp average of that day's plausible
    readings; days missing either side drop."""
    sbp = (flt.codelist_predicate("MEASUREMENT_CONCEPT_ID", SBP_CONCEPTS)
           & flt.band_predicate(VALUE, 30, 300))
    dbp = (flt.codelist_predicate("MEASUREMENT_CONCEPT_ID", DBP_CONCEPTS)
           & flt.band_predicate(VALUE, 20, 150))
    readings = measurement.filter(
        (sbp | dbp)
        & (F.col("UNIT_CONCEPT_ID") == MMHG_UNIT_CONCEPT)
        & flt.year_predicate(DATE, [year - 1, year])
    )
    daily = readings.groupBy(KEY, DATE).agg(
        F.bround(F.avg(F.when(sbp, F.col(VALUE))), 1).alias("SBP"),
        F.bround(F.avg(F.when(dbp, F.col(VALUE))), 1).alias("DBP"),
    )
    return daily.filter(F.col("SBP").isNotNull() & F.col("DBP").isNotNull())


def patient_bp_flags(paired: DataFrame, year: int = 2023) -> DataFrame:
    """One row per patient with paired BP: the denominator flag, the
    ≥2-high-days HTN flags (3_blood_pressure.R:286-290) and the control
    flags at the latest measurement-year visit (:347-363,377-389) — one
    aggregation."""
    visit = F.year(F.col(DATE)) == year
    sbp, dbp = F.col("SBP"), F.col("DBP")
    per = paired.groupBy(KEY).agg(
        F.count_if(visit & ((sbp >= 140) | (dbp >= 90))).alias("__n140"),
        F.count_if(visit & ((sbp >= 130) | (dbp >= 80))).alias("__n130"),
        F.max(F.when(visit, F.struct(DATE, "SBP", "DBP"))).alias("__last"),
    )
    last_sbp, last_dbp = F.col("__last.SBP"), F.col("__last.DBP")
    return per.select(
        KEY,
        F.lit(1).alias("has_bp"),
        flag(F.col("__n140") >= 2).alias("HTN140_90"),
        flag(F.col("__n130") >= 2).alias("HTN130_80"),
        flag((last_sbp < 140) & (last_dbp < 90)).alias("HTNcontrol140"),
        flag((last_sbp < 130) & (last_dbp < 80)).alias("HTNcontrol130"),
    )


def build_bp_flags(cohort: DataFrame, measurement: DataFrame,
                   year: int = 2023) -> DataFrame:
    """Script-3 end-to-end: cohort enriched with BP denominator + HTN +
    control flags, deterministic 0/1 everywhere (patients without
    paired BP, and look-back-only patients, get 0, not NULL —
    SURVEY.md §2.10-1)."""
    flags = patient_bp_flags(paired_daily_bp(measurement, year), year)
    return (
        jn.enrich(cohort.select(KEY), flags, KEY)
        .fillna({c: 0 for c in FLAG_COLS})
    )
