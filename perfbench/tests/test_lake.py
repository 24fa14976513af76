"""The seeded generators: same seed, same rows; the lake's stated
shape (5 states, 55 cities, Texas + New York ~40% of patients)."""

import numpy as np

from perfbench import lake, model, sfgen


def test_same_seed_same_lake_other_seed_differs():
    p1, c1 = lake.generate(7, 2_000, 10_000)
    p2, c2 = lake.generate(7, 2_000, 10_000)
    p3, _ = lake.generate(8, 2_000, 10_000)
    assert p1.equals(p2) and c1.equals(c2)
    assert not p1.equals(p3)


def test_lake_shape_and_filter_selectivity():
    patients, claims = lake.generate(11, 20_000, 50_000)
    p = model.from_arrow(patients)
    assert p["state"].nunique() == 5
    assert p["city"].nunique() == 55
    share = p["state"].isin(lake.FILTERED_STATES).mean()
    assert abs(share - 0.40) < 0.015
    c = model.from_arrow(claims)
    assert c["claim_id"].is_unique and p["patient_id"].is_unique
    assert c["patient_id"].isin(p["patient_id"]).all()
    assert set(c["status"]) == set(lake.STATUSES)
    # the reference DDL, column for column
    ddl_cols = [part.split()[0] for part in lake.CLAIMS_SCHEMA.split(", ")]
    assert claims.column_names == ddl_cols
    assert str(claims.schema.field("amount").type) == "decimal128(10, 2)"


def test_canonical_round_trip_through_arrow():
    patients, claims = lake.generate(3, 500, 2_000)
    for table, ddl in ((patients, lake.PATIENTS_SCHEMA), (claims, lake.CLAIMS_SCHEMA)):
        frame = model.from_arrow(table)
        assert model.to_arrow(frame, ddl).equals(table)


def test_sf_tables_are_seeded():
    a, b = sfgen.generate(5, 0.001), sfgen.generate(5, 0.001)
    assert all(a[t].equals(b[t]) for t in a)
    assert set(a) == {"region", "nation", "customer", "supplier", "part", "orders",
                      "lineitem", "events", "documents", "embeddings"}
    norms = np.linalg.norm(np.stack(a["embeddings"]["embedding"].to_numpy(zero_copy_only=False)), axis=1)
    assert np.allclose(norms, 1.0, atol=1e-5)


def test_fixture_rows_and_filter_come_from_the_engine():
    from sample_emr_on_eks_fgac_iceberg_spark import healthcare

    patients, claims = lake.fixture_tables()
    assert patients.num_rows == len(healthcare.PATIENTS_ROWS) == 12
    assert claims.num_rows == len(healthcare.CLAIMS_ROWS) == 10
    assert patients.schema.equals(lake.generate(1, 10, 10)[0].schema)
    assert lake.FILTERED_STATES == ("Texas", "New York")
    assert lake.FLAGSHIP_JOIN_SQL is healthcare.FLAGSHIP_JOIN_SQL
