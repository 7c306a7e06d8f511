"""Predicate-driven UPDATE (`manifest_update_where`): copy-on-write
(rewrite only matched files, assignments applied to matching rows) and
merge-on-read (positional mask + append of the updated rows in one
atomic commit — the Iceberg-v2 row-level update shape).

Pins: simultaneous-assignment semantics (every SET expression sees
pre-update values), type preservation (results cast to the column's
existing type), row migration across partitions, generated-partition
recomputation, metadata-count exactness after a MoR update, NULL
conditions, and validation errors.
"""

from __future__ import annotations

import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    manifest_compact,
    manifest_count,
    manifest_history,
    manifest_read,
    manifest_update_where,
    manifest_upsert_partitioned,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/muw_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(rows, "k LONG, day STRING, v DOUBLE")


def _seed(spark, table_path):
    """Two files in d1 (two disjoint-key commits), one in d2."""
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


def _rows(spark, table_path):
    return sorted(
        (r["k"], r["day"], r["v"])
        for r in manifest_read(spark, table_path).collect()
    )


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_update_roundtrip_both_modes(spark, table_path, mode):
    _seed(spark, table_path)
    res = manifest_update_where(
        spark, table_path, {"v": "v * 10"}, "k IN (2, 7)", mode=mode
    )
    assert res["updated_rows"] == 2
    assert res["files_matched"] == 2
    got = _rows(spark, table_path)
    assert (2, "d1", 20.0) in got and (7, "d1", 70.0) in got
    assert (1, "d1", 1.0) in got and (99, "d2", 99.0) in got
    assert len(got) == 11
    hist = manifest_history(table_path)
    assert hist[-1]["op"] == "update"
    expected_mode = "copy-on-write" if mode == "cow" else "merge-on-read"
    assert hist[-1]["op_metrics"]["mode"] == expected_mode
    if mode == "mor":
        # zero rewrites: existing bytes never moved
        assert hist[-1]["op_metrics"]["files_rewritten"] == 0
        # mask and append cancel: metadata count stays exact
        assert manifest_count(table_path) == 11


def test_simultaneous_assignment_sees_pre_update_values(spark, table_path):
    _seed(spark, table_path)
    # swap-like: both expressions read the ORIGINAL row
    manifest_update_where(
        spark,
        table_path,
        {"v": "v + k", "k": "k + 1000"},
        "k = 3",
        mode="cow",
    )
    got = [r for r in _rows(spark, table_path) if r[0] >= 1000]
    assert got == [(1003, "d1", 6.0)]


def test_update_casts_to_existing_column_type(spark, table_path):
    _seed(spark, table_path)
    # integer-literal expression must not narrow the double column
    manifest_update_where(spark, table_path, {"v": "42"}, "k = 1")
    df = manifest_read(spark, table_path)
    assert dict(df.dtypes)["v"] == "double"
    assert df.filter("k = 1").collect()[0]["v"] == 42.0


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_row_migration_across_partitions(spark, table_path, mode):
    _seed(spark, table_path)
    res = manifest_update_where(
        spark, table_path, {"day": "'d9'"}, "k IN (5, 99)", mode=mode
    )
    assert res["updated_rows"] == 2
    got = _rows(spark, table_path)
    assert (5, "d9", 5.0) in got and (99, "d9", 99.0) in got
    assert len(got) == 11
    _, content = _latest_manifest(table_path)
    assert "d9" in content["partitions"]
    # pruned read of the new partition sees exactly the migrated rows
    pruned = manifest_read(spark, table_path, partition_values=["d9"])
    assert sorted(r["k"] for r in pruned.collect()) == [5, 99]
    if mode == "cow":
        # d2 was emptied by the migration: partition drops
        assert "d2" not in content["partitions"]


def test_mor_update_then_compact_materializes(spark, table_path):
    _seed(spark, table_path)
    manifest_update_where(
        spark, table_path, {"v": "-1.0"}, "day = 'd1' AND k <= 3", mode="mor"
    )
    manifest_compact(spark, table_path)
    _, content = _latest_manifest(table_path)
    assert content.get("deletes") == []
    got = _rows(spark, table_path)
    assert [(k, d, v) for (k, d, v) in got if v == -1.0] == [
        (1, "d1", -1.0),
        (2, "d1", -1.0),
        (3, "d1", -1.0),
    ]
    assert len(got) == 11


def test_generated_partition_recomputes_on_base_update(spark, table_path):
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),
            (2, "2024-01-02 11:00:00", 2.0),
        ],
        "id LONG, ts STRING, v DOUBLE",
    ).selectExpr("id", "cast(ts as timestamp) ts", "v")
    manifest_upsert_partitioned(
        events,
        table_path,
        ["id"],
        "day",
        generated_cols={"day": "to_date(ts)"},
    )
    # updating the BASE column migrates the generated partition
    manifest_update_where(
        spark,
        table_path,
        {"ts": "timestamp'2024-02-15 09:00:00'"},
        "id = 1",
        mode="cow",
    )
    got = {
        r["id"]: str(r["day"])
        for r in manifest_read(spark, table_path).collect()
    }
    assert got == {1: "2024-02-15", 2: "2024-01-02"}
    # assigning the generated column directly is refused
    with pytest.raises(ValueError, match="generated"):
        manifest_update_where(
            spark, table_path, {"day": "date'2020-01-01'"}, "id = 2"
        )


def test_null_condition_rows_not_updated(spark, table_path):
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", None), (2, "d1", 2.0)]),
        table_path,
        ["k"],
        "day",
    )
    for mode in ("cow", "mor"):
        res = manifest_update_where(
            spark, table_path, {"v": "0.0"}, "v > 100", mode=mode
        )
        assert res["updated_rows"] == 0
    assert _rows(spark, table_path) == [(1, "d1", None), (2, "d1", 2.0)]


def test_update_validation_errors(spark, table_path):
    _seed(spark, table_path)
    with pytest.raises(ValueError, match="mode"):
        manifest_update_where(
            spark, table_path, {"v": "1"}, "1=1", mode="nope"
        )
    with pytest.raises(ValueError, match="at least one"):
        manifest_update_where(spark, table_path, {}, "1=1")
    with pytest.raises(ValueError, match="do not exist"):
        manifest_update_where(spark, table_path, {"nope": "1"}, "1=1")


def test_cdf_surfaces_mor_update_as_delete_insert(spark, table_path):
    """A predicate UPDATE has no merge keys for the CDF reader to pair
    on, so its change rows surface as exact delete + insert pairs (the
    masked pre-image and the appended post-image), stamped with the
    update's commit version."""
    from data_management_service_run_etl_imputations_spark.sources.manifest_stream import (
        ManifestFeedDataSource,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_update_where(
        spark, table_path, {"v": "v * 100"}, "k = 2", mode="mor"
    )
    spark.dataSource.register(ManifestFeedDataSource)
    name = f"cdfupd_{uuid.uuid4().hex[:8]}"
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
                    "select k, v, _change_type, _commit_version "
                    f"from {name}"
                ).collect(),
            )
        )
    finally:
        q.stop()
        shutil.rmtree(f"{table_path}_ckpt", ignore_errors=True)
    assert got == [
        (1, 1.0, "insert", 1),
        (2, 2.0, "delete", 2),
        (2, 2.0, "insert", 1),
        (2, 200.0, "insert", 2),
    ], got


def test_threaded_dml_vs_upsert_serializes(spark, table_path):
    """REAL concurrency between the predicate DML verbs and an upserter
    through one shared SparkSession: DELETE WHERE / UPDATE WHERE never
    fast-forward (their match scan reads the whole table), so every
    lost race must re-run via with_commit_retry and the final state must
    be SOME serial order of the committed operations. With commutative
    per-key effects (the upserter owns keys the DML predicates never
    touch, the DML verbs touch keys the upserter never writes), the
    serial fold is unique and checkable."""
    import threading

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_delete_where,
        with_commit_retry,
    )

    # keys 1..6 belong to the DML thread's predicates; 100+ to the upserter
    manifest_upsert_partitioned(
        _batch(spark, [(k, "d1", float(k)) for k in range(1, 7)]),
        table_path,
        ["k"],
        "day",
    )
    errors: list[Exception] = []

    def upserter() -> None:
        try:
            for r in range(3):
                b = _batch(spark, [(100 + r, "d2", float(r))])
                with_commit_retry(
                    lambda b=b: manifest_upsert_partitioned(
                        b, table_path, ["k"], "day"
                    ),
                    max_attempts=12,
                )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def dml() -> None:
        try:
            with_commit_retry(
                lambda: manifest_update_where(
                    spark, table_path, {"v": "v + 100"}, "k <= 3 AND k < 50",
                    mode="mor",
                ),
                max_attempts=12,
            )
            with_commit_retry(
                lambda: manifest_delete_where(
                    spark, table_path, "k IN (5, 6)", mode="cow"
                ),
                max_attempts=12,
            )
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=upserter),
        threading.Thread(target=dml),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert errors == []
    got = _rows(spark, table_path)
    assert got == [
        (1, "d1", 101.0),
        (2, "d1", 102.0),
        (3, "d1", 103.0),
        (4, "d1", 4.0),
        (100, "d2", 0.0),
        (101, "d2", 1.0),
        (102, "d2", 2.0),
    ], got


def test_cow_update_rewrites_only_matched_files(spark, table_path):
    _seed(spark, table_path)
    res = manifest_update_where(
        spark, table_path, {"v": "v + 0.5"}, "k = 7", mode="cow"
    )
    assert res["files_matched"] == 1
    assert res["files_rewritten"] == 1
    hist = manifest_history(table_path)
    # the second d1 file carries; d2 untouched entirely
    assert hist[-1]["op_metrics"]["files_carried"] == 1
