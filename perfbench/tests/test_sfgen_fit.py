"""``sfgen`` against the engine's test data: the committed profile of
the seed-42 sf0.01 tables (``python3 perfbench/dataprofile.py
<sf0.01 dir> --out tests/data/testdata_sf0.01_profile.json``) and the
test data's row counts at sf0.001, sf0.01 and sf0.1."""

import json
import os

import pytest

from perfbench import dataprofile, sfgen

HERE = os.path.dirname(os.path.abspath(__file__))
# rows per table in the test data
TESTDATA_ROWS = {
    0.001: {"customer": 150, "supplier": 10, "part": 200, "orders": 1500, "lineitem": 6000,
            "events": 1000, "documents": 500, "embeddings": 500},
    0.01: {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000, "lineitem": 60000,
           "events": 10000, "documents": 500, "embeddings": 500},
    0.1: {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
          "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000},
}


def test_generated_sf001_matches_the_test_data_profile(tmp_path):
    with open(os.path.join(HERE, "data", "testdata_sf0.01_profile.json")) as f:
        ref = json.load(f)
    sfgen.write(sfgen.generate(42, 0.01), str(tmp_path))
    assert dataprofile.compare(dataprofile.profile(str(tmp_path)), ref) == []


def test_profile_comparison_catches_an_unfitted_generator(tmp_path):
    """Documents without their planted near-copies fail the check."""
    with open(os.path.join(HERE, "data", "testdata_sf0.01_profile.json")) as f:
        ref = json.load(f)
    tables = sfgen.generate(42, 0.01)
    docs = tables["documents"]
    texts = [" ".join(t.split()[-2::-1]) if t.endswith(" dup") else t
             for t in docs["text"].to_pylist()]
    tables["documents"] = docs.set_column(docs.schema.get_field_index("text"), "text",
                                          [texts])
    sfgen.write(tables, str(tmp_path))
    diffs = dataprofile.compare(dataprofile.profile(str(tmp_path)), ref)
    assert any(d.startswith("documents.near_dup_share") for d in diffs)


@pytest.mark.parametrize("sf", sorted(TESTDATA_ROWS))
def test_row_counts_follow_the_test_data(sf):
    rows = {t: n for t, n in sfgen.row_counts(sf).items() if t in TESTDATA_ROWS[sf]}
    assert rows == TESTDATA_ROWS[sf]
