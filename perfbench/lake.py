"""Seeded healthcare lake: the engine's healthcare fixture (the
reference's ``patients``/``claims`` tables, partitioning, column + row
filter, resource links and team grants) plus generated rows at a size
set by the caller.

``land`` runs the fixture's own ``setup_healthcare`` and then lands the
generated rows, so schemas, policy and golden rows follow the fixture.
Rows are generated column-wise with numpy/pyarrow (never as Python
tuples), staged as parquet, and landed through ``Warehouse.insert_into``
so landing runs through the engine's own commit path. The checks keep
their own model of the rows (see ``perfbench.model``).
"""

from __future__ import annotations

import datetime as dt
import os
import re

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from sample_emr_on_eks_fgac_iceberg_spark.healthcare import (  # noqa: F401 (re-exported)
    CLAIMS_ROWS,
    CLAIMS_SCHEMA,
    FLAGSHIP_JOIN_SQL,
    PATIENT_ALLOWED_COLUMNS,
    PATIENT_ROW_FILTER,
    PATIENTS_ROWS,
    PATIENTS_SCHEMA,
    QUALIFIED_RL_PATIENTS,
)

# Five states, eleven cities each. Texas + New York carry 40% of the
# generated patients, the share the row filter passes.
STATE_WEIGHTS = {
    "California": 0.34,
    "Texas": 0.22,
    "New York": 0.18,
    "Florida": 0.16,
    "Illinois": 0.10,
}
CITIES = {
    "California": ["Los Angeles", "San Francisco", "San Diego", "Sacramento",
                   "San Jose", "Fresno", "Oakland", "Long Beach", "Bakersfield",
                   "Anaheim", "Riverside"],
    "Texas": ["Houston", "Austin", "Dallas", "San Antonio", "Fort Worth",
              "El Paso", "Arlington", "Corpus Christi", "Plano", "Lubbock",
              "Laredo"],
    "New York": ["New York City", "Buffalo", "Rochester", "Albany", "Yonkers",
                 "Syracuse", "New Rochelle", "Mount Vernon", "Schenectady",
                 "Utica", "White Plains"],
    "Florida": ["Miami", "Orlando", "Tampa", "Jacksonville", "Tallahassee",
                "St. Petersburg", "Hialeah", "Fort Lauderdale", "Cape Coral",
                "Gainesville", "Pensacola"],
    "Illinois": ["Chicago", "Aurora", "Naperville", "Joliet", "Rockford",
                 "Springfield", "Elgin", "Peoria", "Champaign", "Waukegan",
                 "Evanston"],
}
STATUSES = ("Approved", "Pending", "Denied")
STATUS_WEIGHTS = (0.6, 0.25, 0.15)
DIAGNOSES = ("J45.901", "M54.5", "I10", "E11.9", "J30.1", "K21.9", "M25.511",
             "N39.0", "L40.0", "F41.1", "R51", "Z00.00")
PROCEDURES = ("99213", "97110", "99214", "82947", "95004", "43235", "73560",
              "81001", "96910", "90834", "99203", "36415")

# the states the fixture's row filter passes
FILTERED_STATES = tuple(re.findall(r"'([^']*)'", PATIENT_ROW_FILTER))

PATIENT_ID_BASE = 100_000
CLAIM_DATE_BASE = dt.date(2024, 1, 1)
CLAIM_DATE_SPAN = 456  # days: 2024-01-01 .. 2025-03-31
_EPOCH = dt.date(1970, 1, 1)
_TS_BASE_US = (dt.date(2025, 3, 28) - _EPOCH).days * 86_400 * 1_000_000


def _prefixed(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    digits = pc.utf8_lpad(pc.cast(pa.array(ids), pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, digits, "")


def decimal_cents(cents: np.ndarray) -> pa.Array:
    """DECIMAL(10,2) straight from integer cents: decimal128 stores
    the unscaled value as a 16-byte little-endian integer."""
    words = np.empty((len(cents), 2), dtype=np.int64)
    words[:, 0] = cents
    words[:, 1] = np.where(cents < 0, -1, 0)
    return pa.Array.from_buffers(
        pa.decimal128(10, 2), len(cents), [None, pa.py_buffer(words.tobytes())]
    )


def patients_table(rng, ids: np.ndarray) -> pa.Table:
    """Patients with the given ids: state by ``STATE_WEIGHTS``, city
    uniform within the state."""
    n = len(ids)
    states = np.array(list(STATE_WEIGHTS), dtype=object)
    w = np.array(list(STATE_WEIGHTS.values()))
    state = states[rng.choice(len(states), n, p=w / w.sum())]
    city = np.empty(n, dtype=object)
    for s in STATE_WEIGHTS:
        m = state == s
        city[m] = np.array(CITIES[s], dtype=object)[rng.integers(0, len(CITIES[s]), m.sum())]
    dob = (dt.date(1940, 1, 1) - _EPOCH).days + rng.integers(0, 65 * 365, n)
    ssn = pc.binary_join_element_wise(
        _prefixed("", rng.integers(100, 900, n), 3),
        _prefixed("", rng.integers(10, 100, n), 2),
        _prefixed("", rng.integers(0, 10_000, n), 4),
        "-",
    )
    ts = _TS_BASE_US + (ids - PATIENT_ID_BASE) * 1_000_000
    return pa.table({
        "patient_id": pa.array(ids.astype(np.int64)),
        "patient_name": _prefixed("patient ", ids, 7),
        "date_of_birth": pa.array(dob.astype(np.int32), pa.date32()),
        "gender": pa.array(np.array(["M", "F"], dtype=object)[rng.integers(0, 2, n)], pa.string()),
        "city": pa.array(city, pa.string()),
        "state": pa.array(state, pa.string()),
        "ssn": ssn,
        "created_at": pa.array(ts, pa.timestamp("us")),
        "updated_at": pa.array(ts, pa.timestamp("us")),
    })


def claims_table(rng, prefix: str, claim_nos: np.ndarray, patient_ids: np.ndarray) -> pa.Table:
    """One claim per ``claim_nos`` entry (id ``prefix`` + 8 digits),
    each for a patient drawn from ``patient_ids``."""
    n = len(claim_nos)
    status = np.array(STATUSES, dtype=object)[
        rng.choice(len(STATUSES), n, p=np.array(STATUS_WEIGHTS))
    ]
    day = (CLAIM_DATE_BASE - _EPOCH).days + rng.integers(0, CLAIM_DATE_SPAN, n)
    ts = _TS_BASE_US + claim_nos * 1_000
    return pa.table({
        "claim_id": _prefixed(prefix, claim_nos, 8),
        "patient_id": pa.array(rng.choice(patient_ids, n).astype(np.int64)),
        "claim_date": pa.array(day.astype(np.int32), pa.date32()),
        "diagnosis_code": pa.array(np.array(DIAGNOSES, dtype=object)[
            rng.integers(0, len(DIAGNOSES), n)], pa.string()),
        "procedure_code": pa.array(np.array(PROCEDURES, dtype=object)[
            rng.integers(0, len(PROCEDURES), n)], pa.string()),
        "amount": decimal_cents(rng.integers(2_000, 100_000, n)),
        "status": pa.array(status, pa.string()),
        "provider_id": _prefixed("DR", rng.integers(0, 500, n), 3),
        "created_at": pa.array(ts, pa.timestamp("us")),
        "updated_at": pa.array(ts, pa.timestamp("us")),
    })


def generate(seed: int, n_patients: int, n_claims: int) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng(seed)
    ids = PATIENT_ID_BASE + np.arange(n_patients, dtype=np.int64)
    patients = patients_table(rng, ids)
    claims = claims_table(rng, "CLM", 1 + np.arange(n_claims, dtype=np.int64), ids)
    return patients, claims


def fixture_tables() -> tuple[pa.Table, pa.Table]:
    """The fixture's golden rows, as Arrow tables of the declared types."""
    from perfbench import model

    return (model.rows_to_arrow(PATIENTS_ROWS, PATIENTS_SCHEMA),
            model.rows_to_arrow(CLAIMS_ROWS, CLAIMS_SCHEMA))


def land(engine, stage_dir: str, patients: pa.Table, claims: pa.Table) -> None:
    """The fixture's tables, golden rows, filters, links and grants,
    then the generated rows, staged as parquet and appended through the
    warehouse."""
    from sample_emr_on_eks_fgac_iceberg_spark.healthcare import setup_healthcare

    setup_healthcare(engine)
    os.makedirs(stage_dir, exist_ok=True)
    for name, table in (("patients", patients), ("claims", claims)):
        path = os.path.join(stage_dir, f"{name}.parquet")
        pq.write_table(table, path)
        engine.warehouse.insert_into(name, engine.spark.read.parquet(path))
