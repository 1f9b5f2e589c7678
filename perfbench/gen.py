"""Seeded input generators for the benchmark workloads.

Written with numpy + pyarrow only: nothing here imports the package
under test, so a change to the package cannot change its own inputs.
Every output is a pure function of (seed, size) and is cached on disk
under a directory named after both; a ``DONE`` marker is written last,
so an interrupted generation is redone, never half-read.
"""

from __future__ import annotations

import base64
import datetime as dt
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# cache
# --------------------------------------------------------------------------


def cached(root: str, kind: str, seed: int, size: int, build) -> str:
    """Return ``root/kind-s<seed>-n<size>``, building it with
    ``build(path, seed, size)`` unless a finished copy exists."""
    path = os.path.join(root, f"{kind}-s{seed}-n{size}")
    if os.path.exists(os.path.join(path, "DONE")):
        return path
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    t0 = time.perf_counter()
    build(path, seed, size)
    with open(os.path.join(path, "DONE"), "w") as f:
        f.write(f"{time.perf_counter() - t0:.3f}\n")
    return path


def _write(table: pa.Table, path: str) -> None:
    # several row groups per file, so Spark scans a table with several tasks
    pq.write_table(table, path, compression="snappy", row_group_size=50_000)


def num_rows(path: str) -> int:
    return pq.ParquetFile(path).metadata.num_rows


_DDL = {"string": "STRING", "int32": "INT", "int64": "BIGINT",
        "date32[day]": "DATE", "double": "DOUBLE"}


def spark_ddl(path: str) -> str:
    """Spark DDL schema of one generated parquet file (the generators
    use only the types in ``_DDL``), so registering it needs no
    schema inference."""
    return ", ".join(f"`{f.name}` {_DDL[str(f.type)]}" for f in pq.read_schema(path))


def _dates(rng: np.random.Generator, n: int, years, probs) -> np.ndarray:
    """Random dates (as datetime64[D]) in the given years."""
    year = rng.choice(np.asarray(years), size=n, p=np.asarray(probs))
    start = (year - 1970).astype("datetime64[Y]").astype("datetime64[D]")
    return start + rng.integers(0, 365, size=n).astype("timedelta64[D]")


def _date_col(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[D]"), type=pa.date32())


def _quoted(values) -> list[str]:
    return [f'"{v}"' for v in values]


# --------------------------------------------------------------------------
# OMOP tables (FIXTURES.md distributions)
# --------------------------------------------------------------------------

SBP = (4152194, 3004249, 4232915, 3018586)
DBP = (4154790, 3012888, 4248524, 3034703)
MMHG = 8876
OTHER_UNITS = (8840, 9529, 999)
RACES = ("CAUCASIAN", "AFRICAN AMERICAN", "ASIAN", "HISPANIC", "OTHER", "UNKNOWN")
RACE_P = (0.55, 0.2, 0.08, 0.1, 0.04, 0.03)
STATES = ("GA", "FL", "AL", "SC", "NC", "TN", "TX", "CA", "NY", "OH")

# codelist sizes from FIXTURES.md; each list owns a disjoint id range.
# preg_condition (914) takes the broadcast semi-join path, the rest the
# isin path (operators.filters.codelist_filter switches above 128).
CODELIST_SIZES = {
    "preg_condition": 914,
    "preg_measurement": 2,
    "preg_observation": 35,
    "preg_procedure": 1,
    "esrd_condition": 2,
    "esrd_observation": 29,
    "esrd_procedure": 50,
    "palliative_procedure": 2,
    "palliative_observation": 17,
    "hospice_procedure": 1,
    "hospice_observation": 4,
    "htn_dx": 50,
    "htn_rx": 100,
}


def omop_codelists() -> dict[str, list[int]]:
    return {
        name: list(range(10_000_000 * (i + 1), 10_000_000 * (i + 1) + n))
        for i, (name, n) in enumerate(CODELIST_SIZES.items())
    }


def _pick_codes(rng, n: int, mix: list[tuple[list[int] | None, float]]) -> np.ndarray:
    """Concept ids drawn from a mixture of codelists; ``None`` means a
    noise concept outside every list."""
    which = rng.choice(len(mix), size=n, p=[p for _, p in mix])
    out = rng.integers(5_000_000, 5_001_000, size=n)  # noise concepts
    for i, (codes, _) in enumerate(mix):
        if codes is not None:
            m = which == i
            out[m] = np.asarray(codes)[rng.integers(0, len(codes), size=m.sum())]
    return out


def _keys(rng, n: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, 16), dtype=np.uint8)
    return [base64.b64encode(r.tobytes()).decode() for r in raw]


def _person(rng, keys: list[str]) -> pa.Table:
    n = len(keys)
    yob = rng.integers(1938, 2008, size=n)
    race = np.asarray(RACES)[rng.choice(len(RACES), size=n, p=RACE_P)]
    sex = np.where(rng.random(n) < 0.5, "F", "M")
    zip3 = rng.integers(100, 1000, size=n)
    state = np.asarray(STATES, dtype=object)[rng.integers(0, len(STATES), size=n)]
    state[rng.random(n) < 0.02] = None
    rows = list(zip(keys, yob.tolist(), race.tolist(), sex.tolist(),
                    zip3.tolist(), state.tolist()))
    # ~3% of keys appear in 2-3 rows: (a) exact dupe, (b) YOB conflict,
    # (c) SEX conflict, (d) RACE conflict, (e) STATE/ZIP-only conflict
    multi = np.flatnonzero(rng.random(n) < 0.03)
    kinds = rng.integers(0, 5, size=len(multi))
    extra_n = rng.integers(1, 3, size=len(multi))
    for i, kind, n_extra in zip(multi.tolist(), kinds.tolist(), extra_n.tolist()):
        k, y, r, s, z, st = rows[i]
        for j in range(n_extra):
            if kind == 1:
                y = y + 1 + j
            elif kind == 2:
                s = "M" if s == "F" else "F"
            elif kind == 3:
                r = RACES[(RACES.index(r) + 1 + j) % len(RACES)]
            elif kind == 4:
                z, st = (z + 1 + j) % 900 + 100, STATES[(j + 3) % len(STATES)]
            rows.append((k, y, r, s, z, st))
    # ~0.1% NULL keys
    for _ in range(max(1, n // 1000)):
        rows.append((None, 1970, "OTHER", "M", 303, "GA"))
    k, y, r, s, z, st = (list(c) for c in zip(*rows))
    return pa.table({
        "PATIENT_LINKAGE": pa.array(k, pa.string()),
        "YEAR_OF_BIRTH": pa.array(y, pa.int32()),
        "ETHNICITY_SOURCE_VALUE": pa.array(_quoted(r), pa.string()),
        "GENDER_SOURCE_VALUE": pa.array(_quoted(s), pa.string()),
        "GENDER_CONCEPT_ID": pa.array([8532 if v == "F" else 8507 for v in s], pa.int32()),
        "LOCATION_ZIP": pa.array(_quoted(z), pa.string()),
        "LOCATION_STATE": pa.array(st, pa.string()),
    })


def _bp_values(rng, n: int, mean: float, sd: float, bad_lo: float,
               bad_hi: float) -> np.ndarray:
    v = np.rint(rng.normal(mean, sd, size=n))
    v[rng.random(n) < 0.05] += 0.5                     # non-integer
    bad = rng.random(n) < 0.003                         # implausible
    v[bad] = np.where(rng.random(bad.sum()) < 0.5, bad_lo, bad_hi)
    v[rng.random(n) < 0.003] = np.nan                   # NULL
    return v


def _measurement(rng, keys: list[str], days_per_patient: float,
                 codelists) -> pa.Table:
    n = len(keys)
    n_days = rng.poisson(days_per_patient, size=n)
    pat = np.repeat(np.arange(n), n_days)
    day = _dates(rng, len(pat), [2021, 2022, 2023], [0.2, 0.35, 0.45])
    # readings per day: multi-reading days, SBP-only and DBP-only days
    n_sbp = rng.choice([0, 1, 2, 3], size=len(pat), p=[0.03, 0.8, 0.12, 0.05])
    n_dbp = rng.choice([0, 1, 2], size=len(pat), p=[0.08, 0.85, 0.07])
    s_idx = np.repeat(np.arange(len(pat)), n_sbp)
    d_idx = np.repeat(np.arange(len(pat)), n_dbp)
    n_noise = len(pat) // 5
    noise_idx = rng.integers(0, len(pat), size=n_noise)
    idx = np.concatenate([s_idx, d_idx, noise_idx])
    concept = np.concatenate([
        np.asarray(SBP)[rng.integers(0, 4, size=len(s_idx))],
        np.asarray(DBP)[rng.integers(0, 4, size=len(d_idx))],
        _pick_codes(rng, n_noise, [(codelists["preg_measurement"], 0.02),
                                   (None, 0.98)]),
    ])
    value = np.concatenate([
        _bp_values(rng, len(s_idx), 128, 20, 12, 350),
        _bp_values(rng, len(d_idx), 78, 12, 8, 210),
        np.rint(rng.normal(50, 30, size=n_noise)),
    ])
    m = len(idx)
    unit = np.full(m, MMHG)
    other = rng.random(m) >= 0.97
    unit[other] = np.asarray(OTHER_UNITS)[rng.integers(0, 3, size=other.sum())]
    order = rng.permutation(m)
    idx, concept, value, unit = idx[order], concept[order], value[order], unit[order]
    key_arr = np.asarray(keys, dtype=object)
    return pa.table({
        "PATIENT_LINKAGE": pa.array(key_arr[pat[idx]], pa.string()),
        "MEASUREMENT_DATE": _date_col(day[idx]),
        "MEASUREMENT_CONCEPT_ID": pa.array(concept, pa.int64()),
        "MEASUREMENT_CONCEPT_DESC": pa.array(
            np.where(np.isin(concept, SBP), '"Systolic blood pressure"',
                     np.where(np.isin(concept, DBP), '"Diastolic blood pressure"',
                              '"other"')), pa.string()),
        "VALUE_AS_NUMBER": pa.array(value, pa.float64(), from_pandas=True),
        "UNIT_CONCEPT_ID": pa.array(unit, pa.int64()),
        "UNIT_CONCEPT_DESC": pa.array(
            np.where(unit == MMHG, '"mmHg"', '"other"'), pa.string()),
    })


def _events(rng, keys: list[str], per_patient: float, mix, key_col: str,
            concept_col: str, date_col: str, extra: dict | None = None) -> pa.Table:
    n_rows = rng.poisson(per_patient, size=len(keys))
    pat = np.repeat(np.arange(len(keys)), n_rows)
    cols = {
        key_col: pa.array(np.asarray(keys, dtype=object)[pat], pa.string()),
        concept_col: pa.array(_pick_codes(rng, len(pat), mix), pa.int64()),
    }
    if extra:
        cols.update({k: pa.array([v] * len(pat), pa.string()) for k, v in extra.items()})
    cols[date_col] = _date_col(_dates(rng, len(pat), [2021, 2022, 2023], [0.3, 0.35, 0.35]))
    return pa.table(cols)


# Golden patients (FIXTURES.md "Golden patients" table, plus the
# exclusion edge cases): hand-built rows under the GOLD_ key prefix
# (base64 keys never contain '_'), with the phenotype row each must
# produce -- None means the patient must be absent from the cohort.
_D = dt.date
_PHENO_COLS = ("has_bp", "HTN140_90", "HTN130_80", "HTNcontrol140",
               "HTN_DX", "HTN_MEDS", "hypertension_140", "hypertension_130")


def _gold_expect(has_bp=0, h140=0, h130=0, c140=0, dx=0, meds=0):
    return dict(zip(_PHENO_COLS, (has_bp, h140, h130, c140, dx, meds,
                                  int(dx or meds or h140), int(dx or meds or h130))))


GOLDEN_EXPECTED = {
    "GOLD_HTN140": _gold_expect(1, 1, 1, 0),
    "GOLD_HTN130_ONLY": _gold_expect(1, 0, 1, 1),
    "GOLD_SAMEDAY_AVG": _gold_expect(1, 1, 1, 0),
    "GOLD_CONTROL": _gold_expect(1, 1, 1, 1),
    "GOLD_DX_ONLY": _gold_expect(1, 0, 0, 1, dx=1),
    "GOLD_MEDS_ONLY": _gold_expect(1, 0, 0, 1, meds=1),
    "GOLD_LOOKBACK_ONLY": _gold_expect(1, 0, 0, 0),
    "GOLD_WRONG_UNIT": _gold_expect(0),
    "GOLD_OLD_2021": _gold_expect(0),
    "GOLD_IMPLAUSIBLE": _gold_expect(1, 0, 0, 1),
    "GOLD_PREG_EXCLUDED": None,
    "GOLD_MISBRIDGE": None,
    "GOLD_MINOR": None,
    "GOLD_ESRD": None,
    "GOLD_HOSPICE": None,
    "GOLD_NULL_STATE": None,
}


def _golden(codelists) -> dict[str, list[tuple]]:
    def person(key, yob=1970, sex="M", state="GA"):
        return (key, yob, "CAUCASIAN", sex, 303, state)

    def bp(key, day, sbp, dbp, unit=MMHG):
        rows = [(key, day, SBP[0], float(s), unit) for s in sbp]
        return rows + [(key, day, DBP[0], float(d), unit) for d in dbp]

    cl = codelists
    return {
        "person": [
            person("GOLD_HTN140"), person("GOLD_HTN130_ONLY"),
            person("GOLD_SAMEDAY_AVG"), person("GOLD_CONTROL"),
            person("GOLD_DX_ONLY"), person("GOLD_MEDS_ONLY"),
            person("GOLD_LOOKBACK_ONLY"), person("GOLD_WRONG_UNIT"),
            person("GOLD_OLD_2021"), person("GOLD_IMPLAUSIBLE"),
            person("GOLD_PREG_EXCLUDED", yob=1990, sex="F"),
            person("GOLD_MISBRIDGE", yob=1980), person("GOLD_MISBRIDGE", yob=1985),
            person("GOLD_MINOR", yob=2010), person("GOLD_ESRD"),
            person("GOLD_HOSPICE"), person("GOLD_NULL_STATE", state=None),
        ],
        "measurement": (
            bp("GOLD_HTN140", _D(2023, 3, 1), [150], [95])
            + bp("GOLD_HTN140", _D(2023, 5, 1), [152], [96])
            + bp("GOLD_HTN130_ONLY", _D(2023, 3, 2), [132], [82])
            + bp("GOLD_HTN130_ONLY", _D(2023, 6, 2), [135], [84])
            # only the same-day AVERAGE makes days 2 and 3 high (a
            # first/min reading would not), and day 3 is the latest
            # visit at exactly 140.0 -> not controlled
            + bp("GOLD_SAMEDAY_AVG", _D(2023, 4, 1), [150, 130, 131], [70])
            + bp("GOLD_SAMEDAY_AVG", _D(2023, 6, 1), [128, 141, 151], [70])
            + bp("GOLD_SAMEDAY_AVG", _D(2023, 8, 1), [139, 139, 142], [70])
            + bp("GOLD_CONTROL", _D(2023, 2, 1), [150], [95])
            + bp("GOLD_CONTROL", _D(2023, 4, 1), [155], [97])
            + bp("GOLD_CONTROL", _D(2023, 11, 1), [120], [75])
            + bp("GOLD_DX_ONLY", _D(2023, 7, 1), [118], [72])
            + bp("GOLD_MEDS_ONLY", _D(2023, 7, 2), [117], [71])
            + bp("GOLD_LOOKBACK_ONLY", _D(2022, 8, 1), [150], [95])
            + bp("GOLD_LOOKBACK_ONLY", _D(2022, 9, 1), [151], [96])
            + bp("GOLD_WRONG_UNIT", _D(2023, 9, 2), [160], [100], unit=999)
            + bp("GOLD_WRONG_UNIT", _D(2023, 10, 2), [161], [101], unit=999)
            + bp("GOLD_OLD_2021", _D(2021, 3, 1), [170], [110])
            + bp("GOLD_OLD_2021", _D(2021, 4, 1), [171], [111])
            + bp("GOLD_IMPLAUSIBLE", _D(2023, 5, 6), [350], [80])
            + bp("GOLD_IMPLAUSIBLE", _D(2023, 6, 6), [119], [74])
            + bp("GOLD_PREG_EXCLUDED", _D(2023, 3, 3), [150], [95])
        ),
        # the pregnancy code is the LAST of the 914-code list: it can
        # only match through the broadcast semi-join path
        "condition": [
            ("GOLD_DX_ONLY", cl["htn_dx"][7], _D(2023, 4, 10)),
            ("GOLD_PREG_EXCLUDED", cl["preg_condition"][-1], _D(2023, 2, 10)),
            ("GOLD_HTN130_ONLY", cl["htn_dx"][0], _D(2021, 4, 10)),  # wrong year
        ],
        "observation": [("GOLD_ESRD", cl["esrd_observation"][3], _D(2022, 3, 3))],
        "procedure": [("GOLD_HOSPICE", cl["hospice_procedure"][0], _D(2023, 3, 4))],
        "drug_exposure": [
            ("GOLD_MEDS_ONLY", cl["htn_rx"][42], _D(2023, 5, 10)),
            ("GOLD_LOOKBACK_ONLY", cl["htn_rx"][1], _D(2021, 5, 10)),  # wrong year
        ],
    }


def _append(table: pa.Table, rows: list[tuple], build) -> pa.Table:
    return pa.concat_tables([table, build(rows).cast(table.schema)])


def build_omop(path: str, seed: int, n_patients: int) -> None:
    """person, measurement, condition, observation, procedure and
    drug_exposure for ``n_patients`` patients (~40 measurement rows
    each) plus the golden patients."""
    rng = np.random.default_rng([seed, 1])
    cl = omop_codelists()
    keys = _keys(rng, n_patients)
    gold = _golden(cl)

    person = _person(rng, keys)
    person = _append(person, gold["person"], lambda rows: pa.table({
        "PATIENT_LINKAGE": [r[0] for r in rows],
        "YEAR_OF_BIRTH": [r[1] for r in rows],
        "ETHNICITY_SOURCE_VALUE": _quoted(r[2] for r in rows),
        "GENDER_SOURCE_VALUE": _quoted(r[3] for r in rows),
        "GENDER_CONCEPT_ID": [8532 if r[3] == "F" else 8507 for r in rows],
        "LOCATION_ZIP": _quoted(r[4] for r in rows),
        "LOCATION_STATE": [r[5] for r in rows],
    }))
    meas = _measurement(rng, keys, 16.0, cl)
    meas = _append(meas, gold["measurement"], lambda rows: pa.table({
        "PATIENT_LINKAGE": [r[0] for r in rows],
        "MEASUREMENT_DATE": [r[1] for r in rows],
        "MEASUREMENT_CONCEPT_ID": [r[2] for r in rows],
        "MEASUREMENT_CONCEPT_DESC": ['"bp"'] * len(rows),
        "VALUE_AS_NUMBER": [r[3] for r in rows],
        "UNIT_CONCEPT_ID": [r[4] for r in rows],
        "UNIT_CONCEPT_DESC": ['"mmHg"' if r[4] == MMHG else '"other"' for r in rows],
    }))
    cond = _events(rng, keys, 1.5, [(cl["htn_dx"], 0.15), (cl["preg_condition"], 0.03),
                                     (cl["esrd_condition"], 0.01), (None, 0.81)],
                   "PATIENT_LINKAGE", "CONDITION_CONCEPT_ID", "CONDITION_START_DATE",
                   extra={"CONDITION_CONCEPT_DESC": '"condition"'})
    cond = cond.select(["PATIENT_LINKAGE", "CONDITION_CONCEPT_ID",
                        "CONDITION_CONCEPT_DESC", "CONDITION_START_DATE"])
    cond = _append(cond, gold["condition"], lambda rows: pa.table({
        "PATIENT_LINKAGE": [r[0] for r in rows],
        "CONDITION_CONCEPT_ID": [r[1] for r in rows],
        "CONDITION_CONCEPT_DESC": ['"condition"'] * len(rows),
        "CONDITION_START_DATE": [r[2] for r in rows],
    }))

    def simple(rows, names):
        return pa.table({n: [r[i] for r in rows] for i, n in enumerate(names)})

    obs_cols = ["PATIENT_LINKAGE", "OBSERVATION_CONCEPT_ID", "OBSERVATION_DATE"]
    obs = _events(rng, keys, 1.0, [(cl["preg_observation"], 0.02),
                                   (cl["esrd_observation"], 0.01),
                                   (cl["palliative_observation"], 0.01),
                                   (cl["hospice_observation"], 0.005), (None, 0.955)],
                  *obs_cols)
    obs = _append(obs, gold["observation"], lambda r: simple(r, obs_cols))
    proc_cols = ["PATIENT_LINKAGE", "PROCEDURE_CONCEPT_ID", "PROCEDURE_DATE"]
    proc = _events(rng, keys, 1.0, [(cl["preg_procedure"], 0.01),
                                    (cl["esrd_procedure"], 0.01),
                                    (cl["palliative_procedure"], 0.005),
                                    (cl["hospice_procedure"], 0.005), (None, 0.97)],
                   *proc_cols)
    proc = _append(proc, gold["procedure"], lambda r: simple(r, proc_cols))
    drug_cols = ["PATIENT_LINKAGE", "DRUG_CONCEPT_ID", "DRUG_EXPOSURE_START_DATE"]
    drug = _events(rng, keys, 2.0, [(cl["htn_rx"], 0.2), (None, 0.8)], *drug_cols)
    drug = _append(drug, gold["drug_exposure"], lambda r: simple(r, drug_cols))

    for name, table in (("person", person), ("measurement", meas),
                        ("condition", cond), ("observation", obs),
                        ("procedure", proc), ("drug_exposure", drug)):
        _write(table, os.path.join(path, f"{name}.parquet"))


# --------------------------------------------------------------------------
# TPC-H-shaped tables for the dashboard queries (testdata layout)
# --------------------------------------------------------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _ts(rng, n: int, lo: str, hi: str) -> pa.Array:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = lo_d + rng.integers(0, (hi_d - lo_d).astype(int), size=n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def build_tpch(path: str, seed: int, n_orders: int) -> None:
    """region, nation, customer, orders, lineitem (4 lines per order on
    average) and a small documents table, in the testdata column types."""
    rng = np.random.default_rng([seed, 2])
    n_cust = max(10, n_orders // 10)
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": list(REGIONS)}), os.path.join(path, "region.parquet"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           os.path.join(path, "nation.parquet"))
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n_cust), 2)),
        "c_mktsegment": np.asarray(SEGMENTS)[rng.integers(0, 5, size=n_cust)],
    }), os.path.join(path, "customer.parquet"))
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders), pa.int64()),
        "o_orderstatus": np.asarray(["F", "O", "P"])[rng.integers(0, 3, size=n_orders)],
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, size=n_orders), 2)),
        "o_orderdate": _ts(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.asarray(PRIORITIES)[rng.integers(0, 5, size=n_orders)],
    }), os.path.join(path, "orders.parquet"))
    n_li = 4 * n_orders
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, size=n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 2000, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, size=n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n_li), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, size=n_li).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, size=n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": np.asarray(["A", "N", "R"])[rng.integers(0, 3, size=n_li)],
        "l_linestatus": np.asarray(["F", "O"])[rng.integers(0, 2, size=n_li)],
        "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-09-01"),
    }), os.path.join(path, "lineitem.parquet"))
    docs, _ = _corpus(np.random.default_rng([seed, 3]), max(50, n_orders // 30), 400)
    _write(docs, os.path.join(path, "documents.parquet"))


# --------------------------------------------------------------------------
# curation corpus + embeddings
# --------------------------------------------------------------------------

VOCAB_SIZE = 5000
STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "are",
             "was", "for", "on", "with", "as", "at", "by", "it", "this", "that")
FOREIGN = {"es": ("el", "la", "de", "que", "y"), "fr": ("le", "la", "et", "les", "des"),
           "de": ("der", "die", "und", "das", "ist")}
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.15


def _doc_tokens(rng, vocab: np.ndarray, zipf_p: np.ndarray, lang: str) -> list[str]:
    n = int(rng.integers(40, 140))
    words = vocab[rng.choice(len(vocab), size=n, p=zipf_p)].tolist()
    markers = STOPWORDS if lang == "en" else FOREIGN[lang]
    k = n // 4 if lang == "en" else n // 5
    for pos, w in zip(rng.integers(0, n, size=k).tolist(),
                      rng.choice(len(markers), size=k).tolist()):
        words[pos] = markers[w]
    return words


def _corpus(rng, n_docs: int, vocab_size: int) -> tuple[pa.Table, np.ndarray]:
    """Zipf-vocabulary documents with exact duplicates and near-duplicate
    families; returns the documents table and each doc's family id
    (the doc id its text derives from) for the matching embeddings."""
    vocab = np.asarray([f"w{i}" for i in range(vocab_size)])
    zipf_p = 1.0 / np.arange(1, vocab_size + 1) ** 1.1
    zipf_p /= zipf_p.sum()
    langs = rng.choice(["en", "es", "fr", "de"], size=n_docs, p=[0.8, 0.07, 0.07, 0.06])
    texts: list[str] = []
    family = np.arange(n_docs)
    kind = rng.random(n_docs)
    for i in range(n_docs):
        if i > 10 and kind[i] < EXACT_DUP_SHARE:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            family[i] = family[j]
        elif i > 10 and kind[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            j = int(rng.integers(0, i))
            words = texts[j].split()
            for pos in rng.integers(0, len(words), size=max(1, len(words) // 30)).tolist():
                words[pos] = vocab[int(rng.integers(0, vocab_size))]
            texts.append(" ".join(words))
            family[i] = family[j]
        else:
            words = _doc_tokens(rng, vocab, zipf_p, str(langs[i]))
            if rng.random() < 0.05:  # low quality: short and punctuation-heavy
                words = [w + "!!" for w in words[:12]]
            texts.append(" ".join(words))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, size=n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return docs, family


def build_corpus(path: str, seed: int, n_docs: int) -> None:
    """documents.parquet + embeddings.parquet (64-dim, one per doc;
    duplicate families share a base vector plus small noise)."""
    rng = np.random.default_rng([seed, 4])
    docs, family = _corpus(rng, n_docs, VOCAB_SIZE)
    _write(docs, os.path.join(path, "documents.parquet"))
    base = rng.normal(0, 1, size=(n_docs, 64))
    vecs = base[family] + rng.normal(0, 0.05, size=(n_docs, 64)) * (family != np.arange(n_docs))[:, None]
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_docs), pa.int32()),
    }), os.path.join(path, "embeddings.parquet"))


# --------------------------------------------------------------------------
# event drops for the file stream
# --------------------------------------------------------------------------

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
REDELIVERY_SHARE = 0.05


def build_events(path: str, seed: int, n_files: int, per_file: int = 2000) -> None:
    """``n_files`` time-ordered parquet drops of ``per_file`` events
    each (one day of event time per file).  ~5% of each file's events
    are re-delivered in the next file with identical contents, well
    inside the dedup watermark."""
    rng = np.random.default_rng([seed, 5])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    prev = None
    for f in range(n_files):
        ids = np.arange(f * per_file, (f + 1) * per_file)
        offs = np.sort(rng.integers(0, 86_400_000_000, size=per_file))
        batch = pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(start + np.timedelta64(f, "D") + offs.astype("timedelta64[us]"),
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(rng.integers(0, 500, size=per_file), pa.int64()),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, size=per_file)],
            "value": pa.array(np.round(rng.exponential(50, size=per_file), 2)),
        })
        if prev is not None:
            redo = np.flatnonzero(rng.random(prev.num_rows) < REDELIVERY_SHARE)
            batch = pa.concat_tables([prev.take(redo), batch])
        _write(batch, os.path.join(path, f"drop-{f:04d}.parquet"))
        prev = batch.slice(batch.num_rows - per_file)
