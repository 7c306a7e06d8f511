"""Partition-path codec regressions. A partition value travels value ->
staged directory name -> manifest key, and a scanned file URI travels
back to its manifest path. Every case here once lost, duplicated or
refused rows: ``''`` collapsing into the NULL partition, URL-escaped scan
URIs (``__p=a%20b``, ``__p=x%253Ay``) matching no manifest file, and
boolean/double keys formatted differently by Spark and by Python."""

from __future__ import annotations

import datetime
import shutil
import tempfile
import uuid

import pytest

from data_management_service_run_etl_imputations_spark.sources.manifest_batch import (
    ManifestTableDataSource,
    manifest_sql,
    manifest_sql_register,
    manifest_sql_unregister,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    NULL_PARTITION_KEY,
    _latest_manifest,
    manifest_delete_where,
    manifest_read,
    manifest_read_where,
    manifest_upsert_partitioned,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/pcodec_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _keys(path: str) -> list[str]:
    return sorted(_latest_manifest(path)[1]["partitions"])


def _sorted(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=lambda t: t[0])


def test_empty_string_and_null_upsert_keep_distinct_keys(spark, table_path):
    schema = "k INT, p STRING, v DOUBLE"
    manifest_upsert_partitioned(
        spark.createDataFrame([(1, "", 1.0), (2, None, 2.0)], schema),
        table_path,
        ["k"],
        "p",
    )
    assert _keys(table_path) == sorted(["", NULL_PARTITION_KEY])
    # a second upsert of the '' row updates it in place
    manifest_upsert_partitioned(
        spark.createDataFrame([(1, "", 10.0)], schema), table_path, ["k"], "p"
    )
    assert _keys(table_path) == sorted(["", NULL_PARTITION_KEY])
    assert _sorted(manifest_read(spark, table_path).collect()) == [
        (1, "", 10.0),
        (2, None, 2.0),
    ]


def test_empty_string_and_null_through_sql(spark, table_path):
    view = f"pcodec_{uuid.uuid4().hex[:8]}"
    manifest_sql(
        spark,
        f"CREATE TABLE {view} (k INT, p STRING) LOCATION '{table_path}' "
        "PARTITIONED BY (p)",
    )
    manifest_sql(
        spark, f"INSERT INTO {view} VALUES (1, ''), (2, CAST(NULL AS STRING))"
    )
    assert _keys(table_path) == sorted(["", NULL_PARTITION_KEY])
    got = manifest_read_where(spark, table_path, "p = ''").collect()
    assert _sorted(got) == [(1, "")]
    r = manifest_sql(spark, f"DELETE FROM {view} WHERE p = ''")
    assert r["deleted_rows"] == 1
    assert _sorted(manifest_sql(spark, f"SELECT * FROM {view}").collect()) == [
        (2, None)
    ]
    manifest_sql_unregister(spark, view)


_ESCAPED = {
    # ':' is escaped in a directory name, and a scan URI escapes both the
    # space and that escape's '%'; timestamp strings carry both characters
    "string": ("STRING", ["a b", "x:y", "plain"]),
    # created by the DataSource writer, whose directory names are
    # percent-escaped on disk (``__p=a%20b``)
    "string-writer": ("STRING", ["a b", "x:y", "plain"]),
    "timestamp": (
        "TIMESTAMP",
        [
            datetime.datetime(2024, 1, 1, 10, 0, 0),
            datetime.datetime(2024, 1, 2, 11, 30, 0, 250000),
            datetime.datetime(1969, 12, 31, 23, 59, 59),
        ],
    ),
}


@pytest.mark.parametrize("kind", sorted(_ESCAPED))
def test_escaped_partition_values_upsert_merge_delete(spark, table_path, kind):
    sql_type, (p1, p2, p3) = _ESCAPED[kind]
    schema = f"k INT, p {sql_type}, v DOUBLE"
    first = spark.createDataFrame(
        [(1, p1, 1.0), (2, p2, 2.0), (3, p3, 3.0)], schema
    )
    if kind == "string-writer":
        spark.dataSource.register(ManifestTableDataSource)
        first.write.format("manifest").option("path", table_path).option(
            "partition_cols", "p"
        ).mode("append").save()
    else:
        manifest_upsert_partitioned(first, table_path, ["k"], "p")
    # re-upsert: the old file of key 1 must be found and rewritten
    manifest_upsert_partitioned(
        spark.createDataFrame([(1, p1, 10.0)], schema), table_path, ["k"], "p"
    )
    assert manifest_read(spark, table_path).count() == 3

    view = f"pcodec_{uuid.uuid4().hex[:8]}"
    src = f"pcodec_src_{uuid.uuid4().hex[:8]}"
    manifest_sql_register(spark, view, table_path, follow_head=True)
    spark.createDataFrame([(2, p2, 20.0)], schema).createOrReplaceTempView(src)
    r = manifest_sql(
        spark,
        f"MERGE INTO {view} AS t USING {src} AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET v = s.v "
        "WHEN NOT MATCHED THEN INSERT *",
    )
    assert (r["updated"], r["inserted"]) == (1, 0)
    assert _sorted(manifest_read(spark, table_path).collect()) == [
        (1, p1, 10.0),
        (2, p2, 20.0),
        (3, p3, 3.0),
    ]

    assert manifest_delete_where(spark, table_path, "k = 1", mode="mor")[
        "deleted_rows"
    ] == 1
    assert manifest_delete_where(spark, table_path, "k = 2", mode="cow")[
        "deleted_rows"
    ] == 1
    assert _sorted(manifest_read(spark, table_path).collect()) == [
        (3, p3, 3.0)
    ]
    assert _sorted(manifest_sql(spark, f"SELECT * FROM {view}").collect()) == [
        (3, p3, 3.0)
    ]
    manifest_sql_unregister(spark, view)
    spark.catalog.dropTempView(src)


@pytest.mark.parametrize(
    "sql_type, values, keys",
    [
        ("BOOLEAN", [True, False], ["False", "True"]),
        ("DOUBLE", [1e20, 0.5], ["0.5", "1e+20"]),
    ],
)
def test_non_string_partition_keys_match_python_writer(
    spark, table_path, sql_type, values, keys
):
    schema = f"k INT, p {sql_type}"
    rows = [(i, v) for i, v in enumerate(values)]
    manifest_upsert_partitioned(
        spark.createDataFrame(rows, schema), table_path, ["k"], "p"
    )
    # the DataSource writer's str(value) convention
    assert _keys(table_path) == keys
    manifest_upsert_partitioned(
        spark.createDataFrame(rows[:1], schema), table_path, ["k"], "p"
    )
    assert _keys(table_path) == keys
    assert _sorted(manifest_read(spark, table_path).collect()) == rows
