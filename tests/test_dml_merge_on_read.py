"""Merge-on-read equality deletes (Iceberg v2 delete files).

The reference's tables are Iceberg (producer_iceberg_datalake_setup.sh:
116-131); format v2's row-level delete contract is: DELETE under
write.delete.mode=merge-on-read writes an equality delete file instead
of rewriting data files, scans subtract it, a delete at sequence D
applies only to data files with sequence < D, and compaction
materializes outstanding deletes.

Scale contract under test: the delete writes key tuples only (no data
file is rewritten), later inserts of the same key survive (sequence
rule), and snapshots from before the delete still read the rows.
"""

import pytest

from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _mor_table(wh, name="t"):
    wh.create_table(name, "k int, v string")
    wh.set_identifier_fields(name, ["k"])
    wh.set_delete_mode(name, "merge-on-read")
    return name


def test_mor_delete_writes_no_data_files(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b"), (3, "c")])
    files_before = wh._data_files("t")
    stats = wh.delete_from("t", "k = 2")
    assert stats["mode"] == "merge-on-read"
    assert stats["deleted_rows"] == 1
    assert stats["delete_files"] >= 1
    # zero data files rewritten or added
    assert wh._data_files("t") == files_before
    assert _rows(wh.read_table("t")) == [(1, "a"), (3, "c")]
    snap = wh.snapshots("t")[-1]
    assert snap["operation"] == "delete"
    assert snap["added_files"] == [] and snap["added_delete_files"]
    assert snap["equality_ids"] == ["k"]


def test_mor_without_identifiers_writes_positional_deletes(wh):
    """MoR without identifier fields takes the spec's OTHER delete
    kind: positional delete files (content=1) holding (file_path, pos)
    tuples — no row identity needed, no data file rewritten."""
    wh.create_table("t", "k int, v string")
    wh.set_delete_mode("t", "merge-on-read")  # legal since round 8
    wh.insert_values("t", [(i, f"x{i}") for i in range(10)])
    files_before = set(wh._live_files(wh._read_meta("t")))
    stats = wh.delete_from("t", "k % 3 = 0")
    assert stats["mode"] == "merge-on-read" and stats["deleted_rows"] == 4
    meta = wh._read_meta("t")
    assert set(wh._live_files(meta)) == files_before  # nothing rewritten
    got = sorted((r.k, r.v) for r in wh.read_table("t").collect())
    assert got == [(i, f"x{i}") for i in range(10) if i % 3]
    # the delete file is positional by schema: exactly (file_path, pos)
    import os
    import pyarrow.parquet as pq

    dfiles = wh._live_delete_files(meta)
    assert dfiles
    for f in dfiles:
        cols = set(pq.read_schema(os.path.join(wh.delete_dir("t"), f)).names)
        assert cols == {"file_path", "pos"}


def test_positional_delete_sequence_and_idempotence(wh):
    wh.create_table("ps", "k int, v string")
    wh.set_delete_mode("ps", "merge-on-read")
    wh.insert_values("ps", [(1, "a"), (2, "b"), (3, "c")])
    wh.delete_from("ps", "k = 2")
    # re-delete: already-deleted rows don't match -> no-op commit
    again = wh.delete_from("ps", "k = 2")
    assert again["deleted_rows"] == 0 and again["delete_files"] == 0
    # a LATER file reuses row ordinal 0 — the (file, pos) identity plus
    # the del_seq >= data_seq guard must not touch it
    wh.insert_values("ps", [(2, "b2")])
    got = sorted((r.k, r.v) for r in wh.read_table("ps").collect())
    assert got == [(1, "a"), (2, "b2"), (3, "c")]
    # positional + time travel: the pre-delete snapshot still shows b
    snaps = [s["snapshot_id"] for s in wh._read_meta("ps").snapshots]
    old = sorted(
        (r.k, r.v) for r in wh.read_table("ps", snapshot_id=snaps[0]).collect()
    )
    assert old == [(1, "a"), (2, "b"), (3, "c")]


def test_positional_deletes_survive_rename_table(wh):
    """The application key is the data-relative path, so moving the
    table directory (rename_table) does not orphan positional
    deletes even though the stored file_path URIs go stale."""
    wh.create_table("pr0", "k int, v string")
    wh.set_delete_mode("pr0", "merge-on-read")
    wh.insert_values("pr0", [(1, "a"), (2, "b")])
    wh.delete_from("pr0", "k = 1")
    wh.rename_table("pr0", "pr1")
    got = sorted((r.k, r.v) for r in wh.read_table("pr1").collect())
    assert got == [(2, "b")]


def test_mor_time_travel_reads_pre_delete_rows(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b")])
    wh.delete_from("t", "k = 1")
    assert _rows(wh.read_table("t")) == [(2, "b")]
    assert _rows(wh.read_table("t", snapshot_id=1)) == [(1, "a"), (2, "b")]


def test_mor_sequence_rule_reinsert_survives(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "old")])
    wh.delete_from("t", "k = 1")
    # a later insert of the same key has a higher sequence: the old
    # equality delete must not swallow it
    wh.insert_values("t", [(1, "new")])
    assert _rows(wh.read_table("t")) == [(1, "new")]


def test_mor_redelete_is_noop(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a")])
    wh.delete_from("t", "k = 1")
    n_snaps = len(wh.snapshots("t"))
    stats = wh.delete_from("t", "k = 1")
    assert stats["deleted_rows"] == 0
    assert len(wh.snapshots("t")) == n_snaps  # no empty commit


def test_mor_compaction_materializes_deletes(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b")])
    wh.insert_values("t", [(3, "c")])
    wh.delete_from("t", "k = 2")
    assert wh._live_delete_files(wh._read_meta("t"))
    stats = wh.compact_table("t")
    assert stats["materialized_delete_files"] >= 1
    # delete files are out of the live set; rows unchanged
    assert wh._live_delete_files(wh._read_meta("t")) == {}
    assert _rows(wh.read_table("t")) == [(1, "a"), (3, "c")]


def test_mor_cow_update_does_not_resurrect(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b")])
    wh.delete_from("t", "k = 1")
    # UPDATE stays copy-on-write; its rewrite must not bring k=1 back
    wh.update_where("t", {"v": "upper(v)"}, "k = 2")
    assert _rows(wh.read_table("t")) == [(2, "B")]


def test_mor_rollback_restores_deleted_rows(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b")])
    wh.delete_from("t", "k = 1")
    wh.rollback_to_snapshot("t", 1)
    assert _rows(wh.read_table("t")) == [(1, "a"), (2, "b")]


def test_mor_expire_preserves_delete_semantics(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b")])  # seq 1
    wh.delete_from("t", "k = 1")                 # seq 2
    wh.insert_values("t", [(1, "again")])        # seq 3 — immune to seq-2 delete
    wh.insert_values("t", [(9, "z")])            # seq 4
    stats = wh.expire_snapshots("t", keep_last=2)
    assert stats["expired_snapshots"] == 2
    # collapsed base keeps original sequences: the delete still hides
    # the seq-1 (1, 'a') row but not the seq-3 re-insert
    assert _rows(wh.read_table("t")) == [(1, "again"), (2, "b"), (9, "z")]


def test_mor_files_metadata_table_shows_delete_content(wh):
    _mor_table(wh)
    wh.insert_values("t", [(1, "a")])
    wh.delete_from("t", "k = 1")
    rows = {(r["content"],) for r in wh.files_df("t").collect()}
    assert ("equality-deletes",) in rows and ("data",) in rows


def test_mor_orphan_cleanup_spares_live_delete_files(wh):
    import os

    _mor_table(wh)
    wh.insert_values("t", [(1, "a"), (2, "b")])
    wh.delete_from("t", "k = 1")
    # plant an orphan in the deletes dir
    orphan = os.path.join(wh.delete_dir("t"), "part-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"junk")
    stats = wh.remove_orphan_files("t")
    assert stats["deleted_files"] == 1
    assert not os.path.exists(orphan)
    assert _rows(wh.read_table("t")) == [(2, "b")]


def test_mor_sql_surface(spark, tmp_path):
    from sample_emr_on_eks_fgac_iceberg_spark.sql_frontend import SqlFrontend

    wh = Warehouse(spark, str(tmp_path / "wh"))
    fe = SqlFrontend(spark, wh)
    fe.execute("CREATE TABLE t (k INT, v STRING)")
    fe.execute(
        "ALTER TABLE t SET TBLPROPERTIES "
        "('identifier_fields'='k', 'write.delete.mode'='merge-on-read')"
    )
    fe.execute("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    files_before = wh._data_files("t")
    fe.execute("DELETE FROM t WHERE k = 1")
    assert wh._data_files("t") == files_before  # no rewrite
    assert _rows(fe.execute("SELECT * FROM t")) == [(2, "b")]
    # metadata table exposes the delete file
    contents = {r["content"] for r in fe.execute("SELECT * FROM t.files").collect()}
    assert "equality-deletes" in contents


def test_mor_guard_cannot_drop_identifier_column(wh):
    _mor_table(wh)
    with pytest.raises(ValueError, match="identifier column"):
        wh.drop_column("t", "k")


def test_mor_update_positional_delete_plus_append(wh):
    """write.update.mode=merge-on-read: UPDATE decomposes into one
    positional delete file + one appended data file in a single
    snapshot — no existing data file is rewritten (Iceberg's
    independent update-mode knob; delete mode may stay CoW)."""
    import os

    import pyarrow.parquet as pq

    wh.create_table("mu", "k int, v string, amt int", partition_by=["v"])
    with wh._table_lock("mu"):
        meta = wh._read_meta("mu")
        meta.properties["write.update.mode"] = "merge-on-read"
        wh._write_meta(meta)
    wh.insert_values("mu", [(i, "a" if i < 5 else "b", i * 10) for i in range(10)])
    files_before = set(wh._live_files(wh._read_meta("mu")))
    r = wh.update_where("mu", {"amt": "amt + 1"}, "k % 2 = 0")
    assert r == {"updated_rows": 5, "delete_files": 1, "mode": "merge-on-read"}
    meta = wh._read_meta("mu")
    # old files still live (not rewritten), new file(s) appended
    assert files_before < set(wh._live_files(meta))
    snap = meta.snapshots[-1]
    assert snap["operation"] == "update"
    assert snap["added_files"] and snap["added_delete_files"]
    assert not snap.get("removed_files")
    # the delete file is positional by schema
    for f in snap["added_delete_files"]:
        cols = set(pq.read_schema(os.path.join(wh.delete_dir("mu"), f)).names)
        assert cols == {"file_path", "pos"}
    got = sorted((x.k, x.amt) for x in wh.read_table("mu").collect())
    assert got == sorted(
        (i, i * 10 + (1 if i % 2 == 0 else 0)) for i in range(10)
    )


def test_mor_update_composes_and_time_travels(wh, spark):
    import os

    from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )

    wh.create_table("mu2", "k int, amt int")
    with wh._table_lock("mu2"):
        meta = wh._read_meta("mu2")
        meta.properties["write.update.mode"] = "merge-on-read"
        wh._write_meta(meta)
    wh.insert_values("mu2", [(1, 10), (2, 20)])
    wh.update_where("mu2", {"amt": "amt + 1"}, "k = 1")
    # updating the UPDATED row again must hit the appended copy, not
    # the positionally-deleted original
    wh.update_where("mu2", {"amt": "amt * 2"}, "k = 1")
    got = {x.k: x.amt for x in wh.read_table("mu2").collect()}
    assert got == {1: 22, 2: 20}
    first = wh._read_meta("mu2").snapshots[0]["snapshot_id"]
    old = {x.k: x.amt for x in wh.read_table("mu2", snapshot_id=first).collect()}
    assert old == {1: 10, 2: 20}
    # spec-route reader agrees (positional deletes over the avro chain)
    via_spec = {
        x.k: x.amt
        for x in read_iceberg_table(spark, os.path.join(wh.root, "mu2")).collect()
    }
    assert via_spec == got


@pytest.mark.slow
def test_mor_merge_upsert_delete_and_cardinality(wh, spark):
    """write.merge.mode=merge-on-read: matched rows become a
    positional delete + appended replacements, NOT MATCHED inserts
    append, all in one snapshot; the (file, pos) identity doubles as
    the row id for the cardinality rule; spec-route reads agree."""
    import os

    from sample_emr_on_eks_fgac_iceberg_spark.sources.iceberg_reader import (
        read_iceberg_table,
    )
    from sample_emr_on_eks_fgac_iceberg_spark.sources.warehouse import (
        MergeCardinalityError,
    )

    wh.create_table("mg", "k int, v string, amt int")
    with wh._table_lock("mg"):
        meta = wh._read_meta("mg")
        meta.properties["write.merge.mode"] = "merge-on-read"
        wh._write_meta(meta)
    wh.insert_values("mg", [(1, "a", 10), (2, "b", 20), (3, "c", 30)])
    files_before = set(wh._live_files(wh._read_meta("mg")))
    src = spark.createDataFrame([(2, "B", 200), (4, "d", 40)], "k int, v string, amt int")
    r = wh.merge_into(
        "mg", src, "t.k = s.k",
        matched_update={"v": "s.v", "amt": "s.amt"}, not_matched_insert=True,
    )
    assert r["mode"] == "merge-on-read"
    assert (r["updated_rows"], r["inserted_rows"], r["delete_files"]) == (1, 1, 1)
    meta = wh._read_meta("mg")
    assert files_before < set(wh._live_files(meta))  # no rewrite, only appends
    snap = meta.snapshots[-1]
    assert snap["operation"] == "merge" and not snap.get("removed_files")
    got = sorted((x.k, x.v, x.amt) for x in wh.read_table("mg").collect())
    assert got == [(1, "a", 10), (2, "B", 200), (3, "c", 30), (4, "d", 40)]

    # WHEN MATCHED THEN DELETE: delete-file-only commit
    r2 = wh.merge_into(
        "mg", spark.createDataFrame([(1,)], "k int"), "t.k = s.k",
        matched_delete=True, not_matched_insert=False,
    )
    assert r2["deleted_rows"] == 1 and r2["delete_files"] == 1
    assert sorted(x.k for x in wh.read_table("mg").collect()) == [2, 3, 4]

    # cardinality rule still enforced through the (file, pos) identity
    dup = spark.createDataFrame([(2, "x", 1), (2, "y", 2)], "k int, v string, amt int")
    with pytest.raises(MergeCardinalityError):
        wh.merge_into("mg", dup, "t.k = s.k", matched_update={"v": "s.v"})

    # spec-route parity over the whole MoR-merge history
    via_spec = sorted(
        (x.k, x.v, x.amt)
        for x in read_iceberg_table(spark, os.path.join(wh.root, "mg")).collect()
    )
    assert via_spec == sorted((x.k, x.v, x.amt) for x in wh.read_table("mg").collect())


def test_positional_deletes_compact_and_expire(wh):
    """Maintenance interplay: compaction materializes positional
    deletes (no live delete files afterwards); expire_snapshots keeps
    the collapsed state readable with kind still derived from the
    delete file schema."""
    wh.create_table("px", "k int, v string")
    wh.set_delete_mode("px", "merge-on-read")
    wh.insert_values("px", [(i, f"x{i}") for i in range(10)])
    wh.delete_from("px", "k < 3")
    r = wh.compact_table("px")
    assert r["materialized_delete_files"] == 1
    assert sorted(x.k for x in wh.read_table("px").collect()) == list(range(3, 10))
    assert not wh._live_delete_files(wh._read_meta("px"))
    # fresh positional delete on the compacted file, then expire
    wh.delete_from("px", "k = 5")
    wh.expire_snapshots("px", keep_last=1)
    assert sorted(x.k for x in wh.read_table("px").collect()) == [3, 4, 6, 7, 8, 9]


def test_mor_deletes_on_partition_values_with_spaces(wh):
    """Delete-file refs are cut from Spark's percent-encoded file URIs;
    the commit check, the scan's delete scoping and the positional-
    delete rewrite all compare them with the on-disk paths of the
    snapshot log ("Los Angeles", not "Los%20Angeles")."""
    wh.create_table("c", "k int, city string", partition_by=["city"])
    wh.set_delete_mode("c", "merge-on-read")
    wh.insert_values("c", [(1, "Los Angeles"), (2, "Los Angeles"), (3, "El Paso")])
    wh.delete_from("c", "k = 1")  # positional: no identifier fields
    assert _rows(wh.read_table("c")) == [(2, "Los Angeles"), (3, "El Paso")]
    wh.rewrite_position_delete_files("c")
    assert _rows(wh.read_table("c")) == [(2, "Los Angeles"), (3, "El Paso")]
    # equality deletes record the data files holding the matched keys
    wh.create_table("e", "k int, city string", partition_by=["city"])
    wh.set_identifier_fields("e", ["k"])
    wh.set_delete_mode("e", "merge-on-read")
    wh.insert_values("e", [(1, "New York City"), (2, "Buffalo")])
    wh.delete_from("e", "k = 1")
    assert _rows(wh.read_table("e")) == [(2, "Buffalo")]
