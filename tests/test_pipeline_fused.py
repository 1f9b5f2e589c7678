"""The fused OMOP pipeline plans: one scan per input table, a
deterministic mis-bridge survivor, and per-patient agreement with the
independent DuckDB oracle on seeded random patients (beyond the 25
golden fixture patients).
"""

from __future__ import annotations

import datetime as dt
import random

import duckdb

from hypertension_dashboard_pipeline_spark import schemas as S
from hypertension_dashboard_pipeline_spark.io import checkpoint
from hypertension_dashboard_pipeline_spark.plans import bp as bp_plan
from hypertension_dashboard_pipeline_spark.plans import cohort as co
from hypertension_dashboard_pipeline_spark.plans import fixtures as fx
from hypertension_dashboard_pipeline_spark.plans.phenotype import build_phenotype
from hypertension_dashboard_pipeline_spark.plans.run import run_pipeline
from hypertension_dashboard_pipeline_spark.queries_omop import _omop_pipeline_ctes
from hypertension_dashboard_pipeline_spark.sources.codelists import (
    DBP_CONCEPTS,
    SBP_CONCEPTS,
)

YEAR = 2023
PHENOTYPE_COLS = [
    "PATIENT_LINKAGE", "has_bp", "HTN140_90", "HTN130_80", "HTNcontrol140",
    "HTNcontrol130", "HTN_DX", "HTN_MEDS", "hypertension_140",
    "hypertension_130",
]

# ------------------------------------------------ mis-bridge survivor


def test_misbridge_survivor_ignores_null_identity(spark):
    """The distinct-value check skips NULLs, so (1980, FL) + (NULL, FL)
    is one consistent identity; the survivor must carry YOB 1980
    whichever row the shuffle delivers first (a NULL-YOB survivor would
    fall out of the adult filter)."""
    q = fx.q
    rows = []
    for key, order in (("N1", (1980, None)), ("N2", (None, 1980))):
        for yob in order:
            rows.append((key, yob, q("CAUCASIAN"), q("M"), 8507, q("331"), "FL"))
    # identity on an unlocated row, location on a NULL-identity row
    rows.append(("N3", 1975, q("ASIAN"), q("F"), 8532, q("303"), None))
    rows.append(("N3", None, q("ASIAN"), None, 8532, q("303"), "GA"))
    # a real conflict next to a NULL is still a mis-bridge
    rows.append(("N4", 1970, q("OTHER"), q("M"), 8507, q("303"), "GA"))
    rows.append(("N4", 1971, q("OTHER"), q("M"), 8507, q("303"), "GA"))
    rows.append(("N4", None, q("OTHER"), q("M"), 8507, q("303"), "GA"))
    person = spark.createDataFrame(rows, S.PERSON).repartition(4)

    pop = co.adults(co.drop_misbridged(co.base_population(person)), YEAR)
    got = {r["PATIENT_LINKAGE"]: r for r in pop.collect()}
    assert set(got) == {"N1", "N2", "N3"}
    assert got["N1"]["YEAR_OF_BIRTH"] == got["N2"]["YEAR_OF_BIRTH"] == 1980
    n3 = got["N3"]
    assert (n3["YEAR_OF_BIRTH"], n3["SEX"], n3["STATE"]) == (1975, "F", "GA")


# ----------------------------------------------------------- plan shape


def _relation_paths(df) -> list[str]:
    """Root path of every file relation in the optimized logical plan."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    paths = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            root = leaf.relation().location().rootPaths().head().toString()
            paths.append(root.rstrip("/").rsplit("/", 1)[-1])
    return sorted(paths)


def test_each_input_table_is_scanned_once(spark, tmp_path):
    """The fused plans read every input table exactly once — a later
    edit that reintroduces per-exclusion or per-side scans fails here."""
    tables = {
        name: checkpoint(df, str(tmp_path / name))
        for name, df in fx.build_tables(spark).items()
    }
    cohort = co.build_cohort(
        tables["person"], tables["condition"], tables["measurement"],
        tables["observation"], tables["procedure"], fx.CODELISTS, YEAR,
    )
    assert _relation_paths(cohort) == [
        "condition", "measurement", "observation", "person", "procedure",
    ]
    cohort = checkpoint(cohort, str(tmp_path / "cohort"))
    bp_flags = bp_plan.build_bp_flags(cohort, tables["measurement"], YEAR)
    assert _relation_paths(bp_flags) == ["cohort", "measurement"]
    bp_flags = checkpoint(bp_flags, str(tmp_path / "bp_flags"))
    phenotype = build_phenotype(bp_flags, tables["condition"],
                                tables["drug_exposure"], fx.CODELISTS, YEAR)
    assert _relation_paths(phenotype) == [
        "bp_flags", "condition", "drug_exposure",
    ]


# ------------------------------------------------- randomized oracle


def _random_rows(seed: int, n: int = 300) -> dict[str, list[tuple]]:
    """Seeded random patients in the fixture row shapes: mis-bridges
    (identity conflicts), exact and location-conflict duplicates,
    unlocated rows, NULL keys, multi-reading days, SBP-only and
    DBP-only days, implausible / NULL / wrong-unit / noise readings,
    three years of dates, and codelist hits in every domain table.
    Identity columns are never NULL (the oracle's survivor row would
    then depend on row order), and readings are integers or halves so
    half-even rounding of the daily averages has no decimal-midpoint
    ties between the engines."""
    rng = random.Random(seed)
    q = fx.q
    cl = fx.CODELISTS
    races = ["CAUCASIAN", "AFRICAN AMERICAN", "ASIAN", "HISPANIC", "OTHER",
             "UNKNOWN"]
    zips, states = ["303", "331", "350"], ["GA", "FL", "AL"]
    noise = fx.NOISE_CONCEPT
    out: dict[str, list[tuple]] = {name: [] for name in fx.ROWS}

    def day() -> dt.date:
        year = rng.choices([YEAR - 2, YEAR - 1, YEAR], [1, 2, 5])[0]
        return dt.date(year, rng.randint(1, 12), rng.randint(1, 28))

    def hit(codes) -> int:
        return rng.choice(list(codes)) if rng.random() < 0.85 else noise

    for i in range(n):
        key = f"R{i:04d}"
        sex = rng.choice("MF")
        row = (key, rng.randint(1940, 2012), q(rng.choice(races)), q(sex),
               8532 if sex == "F" else 8507,
               None if rng.random() < 0.03 else q(rng.choice(zips)),
               None if rng.random() < 0.03 else rng.choice(states))
        out["person"].append(row)
        r = rng.random()
        if r < 0.04:                      # exact duplicate
            out["person"].append(row)
        elif r < 0.10:                    # location conflict, or unlocated
            out["person"].append(row[:5] + (
                q(rng.choice(zips)),
                rng.choice(states + [None]),
            ))
        elif r < 0.15:                    # mis-bridge: identity conflict
            field = rng.choice([1, 2, 3])
            alt = list(row)
            alt[field] = {1: row[1] + rng.randint(1, 5),
                          2: q(rng.choice(races)),
                          3: q("F" if sex == "M" else "M")}[field]
            if alt[field] != row[field]:
                out["person"].append(tuple(alt))

        for _ in range(rng.randint(0, 6)):
            d = day()
            kind = rng.choices(["pair", "sbp", "dbp"], [8, 1, 1])[0]
            sides = []
            if kind in ("pair", "sbp"):
                sides += [("s", rng.randint(1, 3))]
            if kind in ("pair", "dbp"):
                sides += [("d", rng.randint(1, 2))]
            for side, k in sides:
                for _ in range(k):
                    if side == "s":
                        concept = rng.choice(SBP_CONCEPTS)
                        value = rng.randint(100, 175) + rng.choice([0.0, 0.5])
                    else:
                        concept = rng.choice(DBP_CONCEPTS)
                        value = rng.randint(60, 105) + rng.choice([0.0, 0.5])
                    u = rng.random()
                    if u < 0.03:
                        value = rng.choice([350.0, 10.0, 5.0])
                    elif u < 0.05:
                        value = None
                    unit = 999 if rng.random() < 0.02 else fx.MMHG
                    if rng.random() < 0.01:
                        concept = noise
                    out["measurement"].append(
                        (key, d, concept, q("bp"), value, unit, q("mmHg")))
        if rng.random() < 0.03:
            out["measurement"].append(
                (key, day(), hit(cl["preg_measurement"]), q("preg"), 1.0, 0,
                 q("")))
        for _ in range(rng.randint(0, 2)):
            codes = rng.choice([cl["preg_condition"], cl["esrd_condition"],
                                cl["htn_dx"], cl["htn_dx"], [noise]])
            out["condition"].append((key, hit(codes), q("dx"), day()))
        if rng.random() < 0.12:
            codes = rng.choice([cl["preg_observation"], cl["esrd_observation"],
                                cl["palliative_observation"],
                                cl["hospice_observation"]])
            out["observation"].append((key, hit(codes), day()))
        if rng.random() < 0.12:
            codes = rng.choice([cl["preg_procedure"], cl["esrd_procedure"],
                                cl["palliative_procedure"],
                                cl["hospice_procedure"]])
            out["procedure"].append((key, hit(codes), day()))
        for _ in range(rng.choice([0, 0, 1, 2])):
            out["drug_exposure"].append((key, hit(cl["htn_rx"]), day()))

    out["person"].append((None, 1970, q("OTHER"), q("M"), 8507, q("303"), "GA"))
    out["measurement"].append((None, dt.date(YEAR, 1, 2), SBP_CONCEPTS[0],
                               q("bp"), 150.0, fx.MMHG, q("mmHg")))
    for rows in out.values():
        rng.shuffle(rows)
    return out


def test_random_patients_match_oracle(spark, tmp_path):
    rows = _random_rows(seed=11)
    tables = fx.build_tables(spark, rows)
    got = run_pipeline(spark, tables, fx.CODELISTS, str(tmp_path), YEAR)
    spark_rows = sorted(
        tuple(r) for r in got["phenotype"].select(*PHENOTYPE_COLS).collect()
    )
    ctes = _omop_pipeline_ctes(rows)
    con = duckdb.connect()
    duck_rows = sorted(con.execute(
        ctes + f"SELECT {', '.join(PHENOTYPE_COLS)} FROM phenotype"
    ).fetchall())
    assert spark_rows == duck_rows

    # the comparison is not vacuous: every flag fires for some patient,
    # and the mis-bridge rule and every exclusion remove someone
    assert len(spark_rows) > 150
    for i, col in enumerate(PHENOTYPE_COLS[1:], start=1):
        assert any(r[i] == 1 for r in spark_rows), col
    removed = con.execute(ctes + """
        SELECT (SELECT COUNT(DISTINCT k) FROM pop
                WHERE k NOT IN (SELECT k FROM consistent)),
               (SELECT COUNT(*) FROM preg_keys),
               (SELECT COUNT(*) FROM esrd_keys JOIN adults USING (k)),
               (SELECT COUNT(*) FROM care_keys JOIN adults USING (k))
    """).fetchone()
    assert min(removed) > 0, removed
