"""Predicate-driven row-level DELETE (`manifest_delete_where`): the
positional merge-on-read mode (Iceberg position-deletes / Delta deletion
vectors) and the file-granular copy-on-write mode.

Pins the contract: MoR deletes move zero data and mask exact physical
rows (re-inserts can never be masked — a new file is a new address),
CoW rewrites ONLY the files holding matched rows, metadata counts stay
exact under positional masks, rewrites materialize pending masks and
purge their entries with file precision, time travel / restore see
pre-delete content, the CDF feed emits the deletes as change rows, and
column rename survives pending positional entries (they reference no
key columns by construction).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
import pyspark.sql.functions as F

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    manifest_compact,
    manifest_count,
    manifest_delete,
    manifest_delete_where,
    manifest_history,
    manifest_read,
    manifest_rename_column,
    manifest_restore,
    manifest_upsert_partitioned,
    manifest_vacuum,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mdw_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)
    shutil.rmtree(f"{path}_ckpt", ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE")


def _two_file_partition(spark, table_path):
    """Partition d1 with two files from two disjoint-key commits (the
    file-granular writers carry unmatched files, so each commit's file
    survives), plus a d2 partition."""
    manifest_upsert_partitioned(
        _batch(spark, [(k, "d1", float(k)) for k in range(1, 6)]).coalesce(1),
        table_path,
        ["k"],
        "day",
    )
    manifest_upsert_partitioned(
        _batch(
            spark, [(k, "d1", float(k)) for k in range(6, 11)]
        ).coalesce(1),
        table_path,
        ["k"],
        "day",
    )
    manifest_upsert_partitioned(
        _batch(spark, [(99, "d2", 99.0)]).coalesce(1), table_path, ["k"], "day"
    )


def _keys(spark, table_path, **kw):
    return sorted(
        r["k"] for r in manifest_read(spark, table_path, **kw).collect()
    )


def test_mor_positional_delete_roundtrip_and_time_travel(spark, table_path):
    _two_file_partition(spark, table_path)
    res = manifest_delete_where(spark, table_path, "v >= 4 AND v <= 7")
    assert res["deleted_rows"] == 4
    # matched rows span both d1 files
    assert res["files_matched"] == 2
    assert _keys(spark, table_path) == [1, 2, 3, 8, 9, 10, 99]
    # zero data movement: the delete commit added no data files
    hist = manifest_history(table_path)
    assert hist[-1]["op"] == "delete"
    assert hist[-1]["op_metrics"]["mode"] == "merge-on-read"
    assert hist[-1]["op_metrics"]["deleted_rows"] == 4
    # time travel: the pre-delete version still shows every row
    assert _keys(spark, table_path, version=3) == [*range(1, 11), 99]
    # metadata count subtracts the positional masks exactly, per partition
    assert manifest_count(table_path) == 7
    assert manifest_count(table_path, partition_values=["d1"]) == 6
    assert manifest_count(table_path, partition_values=["d2"]) == 1


def test_mor_never_masks_reinserted_rows(spark, table_path):
    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "k = 3")
    assert 3 not in _keys(spark, table_path)
    # re-insert k=3: lands in a NEW file — a new physical address the
    # positional mask cannot touch; the upsert's rewrite of the file
    # that held old k=3 also materializes the mask
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d1", 333.0)]), table_path, ["k"], "day"
    )
    rows = manifest_read(spark, table_path).filter("k = 3").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(3, 333.0)]
    # the rewrite killed the entry's only file: entry purged
    _, content = _latest_manifest(table_path)
    assert content.get("deletes") == []


def test_mor_entry_survives_until_all_its_files_die(spark, table_path):
    _two_file_partition(spark, table_path)
    # masks rows in BOTH d1 files
    manifest_delete_where(spark, table_path, "k IN (2, 7)")
    # rewrite only the file holding k=2 (upsert k=1 touches file 1 only)
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 111.0)]), table_path, ["k"], "day"
    )
    _, content = _latest_manifest(table_path)
    # entry still pending: file 2 (holding masked k=7) is still live
    assert len(content.get("deletes") or []) == 1
    assert _keys(spark, table_path) == [1, 3, 4, 5, 6, 8, 9, 10, 99]


def test_cow_rewrites_only_matched_files(spark, table_path):
    _two_file_partition(spark, table_path)
    res = manifest_delete_where(spark, table_path, "k = 7", mode="cow")
    assert res["deleted_rows"] == 1
    assert res["files_matched"] == 1
    assert res["files_rewritten"] == 1
    # the other d1 file carries by reference (d2 is untouched entirely)
    assert res["files_carried"] == 1
    assert _keys(spark, table_path) == [1, 2, 3, 4, 5, 6, 8, 9, 10, 99]
    hist = manifest_history(table_path)
    assert hist[-1]["op"] == "delete"
    assert hist[-1]["op_metrics"]["mode"] == "copy-on-write"
    # fully materialized: no pending mask, metadata count exact
    _, content = _latest_manifest(table_path)
    assert content.get("deletes") == []
    assert manifest_count(table_path) == 10


def test_cow_drops_emptied_partition(spark, table_path):
    _two_file_partition(spark, table_path)
    res = manifest_delete_where(spark, table_path, "day = 'd2'", mode="cow")
    assert res["deleted_rows"] == 1
    _, content = _latest_manifest(table_path)
    assert set(content["partitions"]) == {"d1"}
    assert _keys(spark, table_path) == list(range(1, 11))


def test_compact_materializes_and_purges_positional_masks(spark, table_path):
    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "k >= 9")
    manifest_compact(spark, table_path)
    _, content = _latest_manifest(table_path)
    assert content.get("deletes") == []
    assert _keys(spark, table_path) == [1, 2, 3, 4, 5, 6, 7, 8]
    # sidecar now unreferenced by the head; vacuum reaps it
    manifest_vacuum(table_path, keep_versions=1)
    deldir = os.path.join(table_path, "_deletes")
    assert not os.path.isdir(deldir) or os.listdir(deldir) == []


def test_vacuum_keeps_pending_sidecars(spark, table_path):
    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "k = 5")
    manifest_vacuum(table_path, keep_versions=1)
    assert _keys(spark, table_path) == [1, 2, 3, 4, 6, 7, 8, 9, 10, 99]


def test_restore_resurrects_predeleted_rows(spark, table_path):
    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "k <= 5")
    assert _keys(spark, table_path) == [6, 7, 8, 9, 10, 99]
    manifest_restore(table_path, version=3)
    assert _keys(spark, table_path) == [*range(1, 11), 99]


def test_equality_and_positional_masks_compose(spark, table_path):
    _two_file_partition(spark, table_path)
    manifest_delete(
        spark.createDataFrame([(1,)], "k long"), table_path, ["k"]
    )
    manifest_delete_where(spark, table_path, "k = 10")
    assert _keys(spark, table_path) == [2, 3, 4, 5, 6, 7, 8, 9, 99]
    # metadata count refuses under the EQUALITY entry (unevaluable), not
    # the positional one
    with pytest.raises(ValueError, match="equality"):
        manifest_count(table_path)
    manifest_compact(spark, table_path)
    assert manifest_count(table_path) == 9


def test_rename_column_with_pending_positional_entry(spark, table_path):
    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "v = 2.0")
    manifest_rename_column(table_path, "v", "value")
    df = manifest_read(spark, table_path)
    assert "value" in df.columns and "v" not in df.columns
    assert sorted(r["k"] for r in df.collect()) == [
        1, 3, 4, 5, 6, 7, 8, 9, 10, 99,
    ]


def test_delete_where_multicolumn_partitioned(spark, table_path):
    df = spark.createDataFrame(
        [
            (1, "d1", "web", 1.0),
            (2, "d1", "app", 2.0),
            (3, "d2", "web", 3.0),
            (4, "d2", "app", 4.0),
        ],
        "k LONG, day STRING, src STRING, v DOUBLE",
    )
    manifest_upsert_partitioned(df, table_path, ["k"], ["day", "src"])
    res = manifest_delete_where(spark, table_path, "src = 'app' AND v > 2.5")
    assert res["deleted_rows"] == 1
    assert _keys(spark, table_path) == [1, 2, 3]
    res2 = manifest_delete_where(spark, table_path, "day = 'd1'", mode="cow")
    assert res2["deleted_rows"] == 2
    assert _keys(spark, table_path) == [3]
    # the MoR-masked ["d2","app"] partition still holds its (masked)
    # file; compaction materializes the mask and drops the emptied
    # partition
    _, content = _latest_manifest(table_path)
    assert set(content["partitions"]) == {'["d2","web"]', '["d2","app"]'}
    manifest_compact(spark, table_path)
    _, content = _latest_manifest(table_path)
    assert set(content["partitions"]) == {'["d2","web"]'}
    assert _keys(spark, table_path) == [3]


def test_null_condition_rows_are_kept(spark, table_path):
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", None), (2, "d1", 2.0)]),
        table_path,
        ["k"],
        "day",
    )
    for mode in ("mor", "cow"):
        res = manifest_delete_where(spark, table_path, "v > 100", mode=mode)
        assert res["deleted_rows"] == 0
    assert _keys(spark, table_path) == [1, 2]


def test_cdf_emits_positional_deletes_as_change_rows(spark, table_path):
    from data_management_service_run_etl_imputations_spark.sources.manifest_stream import (
        ManifestFeedDataSource,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_delete_where(spark, table_path, "k <= 2")

    spark.dataSource.register(ManifestFeedDataSource)
    name = f"cdfpos_{uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("manifest_feed")
        .option("path", table_path)
        .option("mode", "cdf")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", f"{table_path}_ckpt")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            map(
                tuple,
                spark.sql(
                    "select k, day, v, _change_type, _commit_version "
                    f"from {name}"
                ).collect(),
            )
        )
    finally:
        q.stop()
    assert got == [
        (1, "d1", 1.0, "delete", 2),
        (1, "d1", 1.0, "insert", 1),
        (2, "d1", 2.0, "delete", 2),
        (2, "d1", 2.0, "insert", 1),
        (3, "d2", 3.0, "insert", 1),
    ], got


def test_mor_masks_exact_duplicate_rows(spark, table_path):
    """Equality deletes cannot distinguish byte-identical rows;
    positional masks address physical rows, so an exact-duplicate table
    (no key) still deletes precisely the matching rows."""
    df = spark.createDataFrame(
        [(1, "d1", 5.0), (1, "d1", 5.0), (2, "d1", 7.0)],
        "k LONG, day STRING, v DOUBLE",
    )
    # append-style: disjoint synthetic keys avoid upsert dedup — write
    # via replace-partitions instead to keep true duplicates
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_replace_partitions,
    )

    manifest_replace_partitions(df, table_path, "day", ["d1"])
    res = manifest_delete_where(spark, table_path, "v = 5.0")
    assert res["deleted_rows"] == 2
    assert _keys(spark, table_path) == [2]


def test_zorder_and_skipping_read_respect_positional_masks(
    spark, table_path
):
    """OPTIMIZE ZORDER is a rewrite: copying raw files into a fresh
    stage would move masked rows out of the entry's file scope and
    resurrect them — the rewrite must materialize pending positional
    masks; and the stats-pruned read path masks like the plain read."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_cluster_zorder,
        manifest_read_skipping,
    )

    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "k IN (2, 7)")
    got = manifest_read_skipping(spark, table_path, {"k": (1, 10)})
    assert sorted(r["k"] for r in got.collect()) == [1, 3, 4, 5, 6, 8, 9, 10]
    manifest_cluster_zorder(spark, table_path, ["k", "v"])
    _, content = _latest_manifest(table_path)
    assert content.get("deletes") == []  # materialized, entry purged
    assert _keys(spark, table_path) == [1, 3, 4, 5, 6, 8, 9, 10, 99]


def test_positional_entries_consolidate_past_threshold(spark, table_path):
    """Read-side masking cost must not grow linearly with MoR delete
    commits: past the threshold, pending positional entries union into
    ONE sidecar inside the data commit that tipped it — content, exact
    metadata counts, and time travel are unaffected."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        POS_CONSOLIDATE_THRESHOLD,
    )

    rows = [(k, "d1", float(k)) for k in range(0, 40)]
    manifest_upsert_partitioned(
        _batch(spark, rows).coalesce(4), table_path, ["k"], "day"
    )
    deleted = []
    for k in range(0, 12):
        manifest_delete_where(spark, table_path, f"k = {k}")
        deleted.append(k)
    _, content = _latest_manifest(table_path)
    pending = content.get("deletes") or []
    assert len(pending) <= POS_CONSOLIDATE_THRESHOLD + 1
    assert all(e.get("kind") == "pos" for e in pending)
    assert _keys(spark, table_path) == list(range(12, 40))
    assert manifest_count(table_path) == 28
    # an old version still resolves through ITS entry list
    assert len(_keys(spark, table_path, version=4)) == 37


def test_rejects_unknown_mode_and_missing_table(spark, table_path):
    with pytest.raises(ValueError, match="mode"):
        manifest_delete_where(spark, table_path, "1=1", mode="nope")
    with pytest.raises(ValueError, match="does not exist"):
        manifest_delete_where(spark, table_path, "1=1")


def test_consolidation_on_legacy_manifest_never_drops_addresses(
    spark, table_path
):
    """ADVICE r8 (medium): on a legacy manifest WITHOUT commit-time file
    lists, liveness derived from content['files'] is empty — crossing
    the threshold would merge every pending positional address into an
    empty sidecar and resurrect all deleted rows. The fix derives
    liveness via the listing fallback (or skips merging entirely)."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        POS_CONSOLIDATE_THRESHOLD,
        _latest_manifest,
        _maybe_consolidate_pos,
    )

    rows = [(k, "d1", float(k)) for k in range(0, 20)]
    manifest_upsert_partitioned(
        _batch(spark, rows).coalesce(2), table_path, ["k"], "day"
    )
    for k in range(3):
        manifest_delete_where(spark, table_path, f"k = {k}")
    _, content = _latest_manifest(table_path)
    deletes = [e for e in content["deletes"] if e.get("kind") == "pos"]
    assert deletes
    while len(deletes) <= POS_CONSOLIDATE_THRESHOLD:
        deletes.append(dict(deletes[0]))
    legacy = {k: v for k, v in content.items() if k != "files"}
    out = _maybe_consolidate_pos(spark, table_path, legacy, deletes)
    pos = [e for e in out if e.get("kind") == "pos"]
    assert pos, "positional entries vanished on a legacy manifest"
    addressed = {f for e in pos for f in e.get("files", [])}
    assert addressed, (
        "consolidation against a legacy manifest emptied the address "
        "set — deleted rows would resurrect"
    )


def test_consolidation_unknown_liveness_leaves_entries_unmerged(
    spark, table_path
):
    """If liveness can't be established at all (legacy manifest AND the
    data dirs are unlistable), the entries must come back unchanged."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        POS_CONSOLIDATE_THRESHOLD,
        _latest_manifest,
        _maybe_consolidate_pos,
    )

    _two_file_partition(spark, table_path)
    manifest_delete_where(spark, table_path, "k = 2")
    _, content = _latest_manifest(table_path)
    deletes = [e for e in content["deletes"] if e.get("kind") == "pos"]
    while len(deletes) <= POS_CONSOLIDATE_THRESHOLD:
        deletes.append(dict(deletes[0]))
    legacy = {
        k: v
        for k, v in content.items()
        if k not in ("files", "partitions")
    }
    legacy["partitions"] = {"d9": "__p=does_not_exist"}
    out = _maybe_consolidate_pos(spark, table_path, legacy, deletes)
    assert out == deletes
