"""Manifest-committed partitioned table: atomic upsert visibility.

Rewriting partition directories in place (dynamic partition overwrite)
lets a concurrent reader observe a partially-rewritten partition set.
manifest_upsert_partitioned publishes each version with one atomic
rename, so these tests pin the ACID story: a reader resolved on
version N sees exactly version N forever (data dirs are immutable); a
writer crash before the manifest rename is invisible; vacuum only removes
unreferenced directories.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    manifest_read,
    manifest_upsert_partitioned,
    manifest_vacuum,
)


@pytest.fixture()
def table_path():
    path = f"{tempfile.gettempdir()}/mtab_{uuid.uuid4().hex[:12]}"
    yield path
    shutil.rmtree(path, ignore_errors=True)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "k LONG, day STRING, v DOUBLE"
    )


def _content(df):
    return sorted(map(tuple, df.select("k", "day", "v").collect()))


def test_upsert_counts_and_content(spark, table_path):
    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])
    r1 = manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    assert r1 == {"updated": 0, "inserted": 3}

    # update k=2 (same partition), insert k=4 into d2 and k=5 into new d3
    b2 = _batch(spark, [(2, "d1", 20.0), (4, "d2", 4.0), (5, "d3", 5.0)])
    r2 = manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    assert r2 == {"updated": 1, "inserted": 2}

    got = _content(manifest_read(spark, table_path))
    assert got == [
        (1, "d1", 1.0),
        (2, "d1", 20.0),
        (3, "d2", 3.0),
        (4, "d2", 4.0),
        (5, "d3", 5.0),
    ]


def test_reader_mid_upsert_sees_old_or_new_never_a_mix(spark, table_path):
    """The ACID pin: a reader that resolved its snapshot BEFORE a commit
    keeps reading exactly that version even after the upsert completes
    (immutable dirs), and a reader resolving AFTER sees the new version in
    full. Version-pinned reads make the mid-upsert reader deterministic —
    this is precisely what the dynamic-overwrite path cannot guarantee."""
    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    v1_content = [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)]

    # reader A resolves v1 (the "mid-upsert" reader: its manifest was read
    # before the next commit's rename lands)
    reader_a = manifest_read(spark, table_path, version=1)

    # a multi-partition rewrite commits underneath reader A
    b2 = _batch(spark, [(1, "d1", 10.0), (2, "d2", 20.0), (3, "d3", 30.0)])
    manifest_upsert_partitioned(b2, table_path, ["k"], "day")

    # reader A still sees v1 exactly — not a d1-new/d2-old mix
    assert _content(reader_a) == v1_content
    assert _content(manifest_read(spark, table_path, version=1)) == v1_content
    # a fresh reader sees v2 in full
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 10.0),
        (2, "d2", 20.0),
        (3, "d3", 30.0),
    ]


def test_writer_crash_before_manifest_is_invisible(spark, table_path):
    """Staged data without a manifest rename is a no-op for readers: the
    commit point is the rename, nothing else. A re-run then lands cleanly
    (the reference's idempotent-rerun property, now crash-safe)."""
    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")

    # simulate a crash: stage a directory but never publish a manifest
    orphan = f"{table_path}/data/deadbeef0000"
    os.makedirs(f"{orphan}/__p=d1", exist_ok=True)
    _batch(spark, [(1, "d1", 99.0)]).write.mode("overwrite").parquet(
        f"{orphan}/__p=d1"
    )

    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d2", 2.0),
    ]

    # recovery is just the next successful run
    b2 = _batch(spark, [(1, "d1", 11.0)])
    r = manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    assert r == {"updated": 1, "inserted": 0}
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 11.0),
        (2, "d2", 2.0),
    ]


def test_concurrent_writers_one_winner_loud_loser(spark, table_path):
    """Two writers racing to the same next version (VERDICT r04 gap #1):
    the commit is an exclusive link — exactly one wins; the loser raises
    CommitConflict instead of silently clobbering, and the winner's
    manifest content is untouched. Recovery is re-reading the latest
    version and retrying, which then lands as the NEXT version."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        CommitConflict,
        _publish_manifest,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    version, content = _latest_manifest(table_path)

    # both writers observed `version`; writer A commits version+1 first
    winner = dict(content, winner="A")
    _publish_manifest(table_path, version + 1, winner)

    # writer B, still holding the stale read, races to the same version
    with pytest.raises(CommitConflict):
        _publish_manifest(table_path, version + 1, dict(content, winner="B"))

    # winner's commit is intact (no clobber), and no temp debris remains
    v2, c2 = _latest_manifest(table_path)
    assert v2 == version + 1 and c2.get("winner") == "A"
    debris = [
        n
        for n in os.listdir(f"{table_path}/_commits")
        if n.endswith(".tmp")
    ]
    assert debris == []

    # loser retries against the refreshed head: lands as version+2
    _publish_manifest(table_path, v2 + 1, dict(c2, winner="B"))
    v3, c3 = _latest_manifest(table_path)
    assert v3 == version + 2 and c3.get("winner") == "B"

    # the full upsert path also advances past the raced version cleanly
    b2 = _batch(spark, [(1, "d1", 10.0)])
    manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 10.0),
        (2, "d2", 2.0),
    ]


def test_partition_pruning_via_manifest(spark, table_path):
    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    pruned = manifest_read(spark, table_path, partition_values=["d2"])
    assert _content(pruned) == [(2, "d2", 2.0)]
    # only the listed directory is in the scan's input files
    assert all("__p=d2" in f for f in pruned.inputFiles())


def test_vacuum_keeps_referenced_dirs(spark, table_path):
    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    b2 = _batch(spark, [(1, "d1", 10.0)])
    manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    # v2 references the v1 stage (d2 carried over) + the v2 stage: nothing
    # to remove while both are referenced by the latest manifest
    assert manifest_vacuum(table_path, keep_versions=1) == 0

    b3 = _batch(spark, [(2, "d2", 20.0)])
    manifest_upsert_partitioned(b3, table_path, ["k"], "day")
    b4 = _batch(spark, [(1, "d1", 100.0), (2, "d2", 200.0)])
    manifest_upsert_partitioned(b4, table_path, ["k"], "day")
    # v4 rewrote both partitions: earlier stages are unreferenced now
    removed = manifest_vacuum(table_path, keep_versions=1)
    assert removed >= 2
    version, _ = _latest_manifest(table_path)
    assert version == 4
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 100.0),
        (2, "d2", 200.0),
    ]


def test_compaction_reduces_files_preserves_content(spark, table_path):
    """A fragmented write (8-way repartition) leaves multiple files per
    partition; compaction rewrites to one file per partition as a NEW
    version with identical content, and the pre-compaction version stays
    readable (physical-layout-only commit)."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
    )

    rows = [(i, f"d{i % 3}", float(i)) for i in range(300)]
    b1 = _batch(spark, rows).repartition(8)
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    before = _content(manifest_read(spark, table_path))

    stats = manifest_compact(spark, table_path)
    assert stats["partitions"] == 3
    assert stats["files_before"] > 3  # fragmented by the 8-way write
    assert stats["files_after"] == 3  # one file per partition
    version, _ = _latest_manifest(table_path)
    assert version == 2

    assert _content(manifest_read(spark, table_path)) == before
    # time travel to the pre-compaction snapshot still works
    assert _content(manifest_read(spark, table_path, version=1)) == before


def test_compaction_selected_partitions_only(spark, table_path):
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
    )

    rows = [(i, f"d{i % 2}", float(i)) for i in range(100)]
    manifest_upsert_partitioned(
        _batch(spark, rows).repartition(6), table_path, ["k"], "day"
    )
    stats = manifest_compact(spark, table_path, partition_values=["d0"])
    assert stats["partitions"] == 1
    assert stats["files_after"] == 1
    got = _content(manifest_read(spark, table_path))
    assert got == sorted((i, f"d{i % 2}", float(i)) for i in range(100))


def test_schema_evolution_new_column(spark, table_path):
    """Delta-style evolution: a later batch adds a column; surviving old
    rows and untouched partitions read it as null (mergeSchema), updated
    rows carry values. Dropping a column in a batch null-fills it."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_upsert_partitioned as upsert,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    upsert(b1, table_path, ["k"], "day")
    b2 = spark.createDataFrame(
        [(3, "d1", 3.0, "en")], "k LONG, day STRING, v DOUBLE, lang STRING"
    )
    upsert(b2, table_path, ["k"], "day")

    got = {
        r.k: (r.day, r.v, r.lang)
        for r in manifest_read(spark, table_path).collect()
    }
    assert got == {
        1: ("d1", 1.0, None),   # surviving row in the touched partition
        2: ("d2", 2.0, None),   # untouched partition, old files
        3: ("d1", 3.0, "en"),   # new row carries the new column
    }


def test_randomized_upserts_match_dict_model(spark, table_path):
    """Model-based check: a seeded random sequence of upsert batches must
    leave the table equal to a plain dict fold (key -> last-written row),
    with counts matching at every step."""
    import random

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_upsert_partitioned as upsert,
    )

    rng = random.Random(42)
    model: dict[int, tuple] = {}
    for step in range(8):
        batch = {}
        for _ in range(rng.randint(1, 12)):
            k = rng.randint(0, 19)
            batch[k] = (k, f"d{k % 4}", float(rng.randint(0, 99)))
        rows = sorted(batch.values())
        expect_updated = sum(1 for k in batch if k in model)
        expect_inserted = len(batch) - expect_updated
        r = upsert(_batch(spark, rows), table_path, ["k"], "day")
        assert r == {
            "updated": expect_updated,
            "inserted": expect_inserted,
        }, f"step {step}"
        model.update(batch)
    assert _content(manifest_read(spark, table_path)) == sorted(model.values())


def test_change_data_feed_between_versions(spark, table_path):
    """manifest_diff emits inserts/deletes between versions (update =
    delete+insert pair) and reads ONLY rewritten partition directories —
    carried-over partitions are pruned at the manifest level."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_diff,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0), (3, "d3", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    # update k=1, insert k=4 (both in d1); d2/d3 untouched
    b2 = _batch(spark, [(1, "d1", 10.0), (4, "d1", 4.0)])
    manifest_upsert_partitioned(b2, table_path, ["k"], "day")

    diff = manifest_diff(spark, table_path, from_version=1, to_version=2)
    got = sorted(
        (r.change_type, r.k, r.day, r.v) for r in diff.collect()
    )
    assert got == [
        ("delete", 1, "d1", 1.0),
        ("insert", 1, "d1", 10.0),
        ("insert", 4, "d1", 4.0),
    ]
    # manifest-level pruning: only d1's old+new dirs are ever opened
    files = diff.inputFiles()
    assert files and all("__p=d1" in f for f in files)

    # identical versions diff to empty
    assert manifest_diff(spark, table_path, 2, 2).count() == 0


def test_incremental_aggregate_refresh_matches_rebuild(spark, table_path):
    """The rollup maintained from change feeds must equal a full rebuild
    at every fact version — including group deletion when a group's
    count reaches zero — while the refresh reads only the diff."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_refresh_aggregate,
        manifest_replace_partitions,
        manifest_upsert_partitioned as upsert,
    )

    fact = table_path + "_fact"
    agg = table_path + "_agg"

    def rebuild():
        return sorted(
            (r.day, r.n_rows, r.sum_v)
            for r in manifest_read(spark, fact)
            .groupBy("day")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("v").alias("sum_v"),
            )
            .collect()
        )

    def rollup():
        return sorted(
            (r.day, r.n_rows, r.sum_v)
            for r in manifest_read(spark, agg).collect()
        )

    # v1: bootstrap from version 0
    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])
    upsert(b1, fact, ["k"], "day")
    s1 = manifest_refresh_aggregate(
        spark, fact, agg, 0, ["day"], "day", ["v"]
    )
    assert s1["changed_groups"] == 2
    assert rollup() == rebuild()

    # v2: update k=2 (d1 sum changes), insert into d3
    b2 = _batch(spark, [(2, "d1", 20.0), (5, "d3", 5.0)])
    upsert(b2, fact, ["k"], "day")
    s2 = manifest_refresh_aggregate(
        spark, fact, agg, 1, ["day"], "day", ["v"]
    )
    assert s2["partitions_written"] == 2  # d1 and d3; d2 untouched
    assert rollup() == rebuild()

    # v3: empty partition d2 entirely -> its rollup group must DISAPPEAR
    manifest_replace_partitions(
        _batch(spark, []).filter(F.lit(False)), fact, "day", ["d2"]
    )
    s3 = manifest_refresh_aggregate(
        spark, fact, agg, 2, ["day"], "day", ["v"]
    )
    assert s3["partitions_dropped"] == 1
    assert rollup() == rebuild()
    assert all(day != "d2" for day, _, _ in rollup())


def test_metadata_only_count(spark, table_path):
    """COUNT(*) from the manifest's recorded per-file row counts — no
    scan, no SparkSession; full and partition-pruned, across upserts."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_count,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    assert manifest_count(table_path) == 3
    assert manifest_count(table_path, partition_values=["d1"]) == 2

    b2 = _batch(spark, [(2, "d1", 20.0), (4, "d3", 4.0)])
    manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    assert manifest_count(table_path) == 4
    assert manifest_count(table_path) == manifest_read(spark, table_path).count()
    # time travel counts too
    assert manifest_count(table_path, version=1) == 3


def test_commit_retry_remerges_against_winner(spark, table_path, monkeypatch):
    """with_commit_retry: a writer whose first attempt loses the version
    race re-runs, re-reads the winner's head, and lands as the next
    version — final content reflects BOTH writers."""
    from data_management_service_run_etl_imputations_spark.sources import sinks
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        with_commit_retry,
    )

    b1 = _batch(spark, [(1, "d1", 1.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")

    real_latest = sinks._latest_manifest
    state = {"raced": False}

    def racing_latest(path):
        v, c = real_latest(path)
        if not state["raced"]:
            # first read: another writer commits AFTER our snapshot
            state["raced"] = True
            other = _batch(spark, [(9, "d9", 9.0)])
            manifest_upsert_partitioned(other, path, ["k"], "day")
        return v, c

    monkeypatch.setattr(sinks, "_latest_manifest", racing_latest)
    b2 = _batch(spark, [(2, "d2", 2.0)])
    with_commit_retry(
        lambda: manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    )
    monkeypatch.setattr(sinks, "_latest_manifest", real_latest)
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d2", 2.0),
        (9, "d9", 9.0),
    ]


def test_streaming_sink_exactly_once_on_replay(spark, table_path):
    """foreach_batch_manifest_upsert: a replayed batch id (the
    at-least-once delivery Structured Streaming gives after a crash) is
    recognized from the manifest and skipped — table content stays
    exactly-once because the batch id commits atomically WITH the data."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        foreach_batch_manifest_upsert,
        manifest_count,
    )

    apply_batch = foreach_batch_manifest_upsert(table_path, ["k"], "day")
    b0 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    apply_batch(b0, 0)
    assert manifest_count(table_path) == 2

    # crash-replay of batch 0: identical call, must be a no-op
    v_before, _ = _latest_manifest(table_path)
    apply_batch(b0, 0)
    v_after, _ = _latest_manifest(table_path)
    assert v_after == v_before and manifest_count(table_path) == 2

    # next batch applies normally (including an update to an existing key)
    apply_batch(_batch(spark, [(2, "d2", 20.0), (3, "d3", 3.0)]), 1)
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d2", 20.0),
        (3, "d3", 3.0),
    ]
    # replay of batch 1 after more progress: still skipped
    apply_batch(_batch(spark, [(2, "d2", 999.0)]), 1)
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d2", 20.0),
        (3, "d3", 3.0),
    ]


def test_streaming_sink_end_to_end_restart(spark, table_path, tmp_path):
    """The sink driven by a REAL Structured Streaming query (file source,
    availableNow): restarting the query over the same checkpoint re-runs
    cleanly and the table equals the batch content exactly once."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        foreach_batch_manifest_upsert,
        manifest_count,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    _batch(spark, [(i, f"d{i % 3}", float(i)) for i in range(30)]).write.parquet(src)

    def run_once():
        q = (
            spark.readStream.schema("k LONG, day STRING, v DOUBLE")
            .parquet(src)
            .writeStream.foreachBatch(
                foreach_batch_manifest_upsert(table_path, ["k"], "day")
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert manifest_count(table_path) == 30
    run_once()  # restart over the same checkpoint: no new data, no dups
    assert manifest_count(table_path) == 30


def test_mor_delete_masks_without_rewrite(spark, table_path):
    """Merge-on-read equality delete: rows vanish from every read path
    with ZERO data rewritten (the data directories are untouched); a
    later upsert re-inserting the key makes it live again (new stage is
    out of the delete's scope); compaction materializes + purges."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_count,
        manifest_delete,
    )

    b1 = _batch(
        spark,
        [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0), (4, "d2", 4.0)],
    )
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    _, c_before = _latest_manifest(table_path)

    r = manifest_delete(
        spark.createDataFrame([(2,), (3,)], "k long"), table_path, ["k"]
    )
    assert r == {"keys": 2}
    # no data movement: the live partition map is byte-identical
    _, c_after = _latest_manifest(table_path)
    assert c_after["partitions"] == c_before["partitions"]
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (4, "d2", 4.0),
    ]
    # metadata count refuses to lie while deletes are pending
    with pytest.raises(ValueError, match="merge-on-read"):
        manifest_count(table_path)

    # re-insert k=2: the new stage is outside the delete's scope
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d1", 22.0)]), table_path, ["k"], "day"
    )
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d1", 22.0),
        (4, "d2", 4.0),
    ]

    # compaction materializes the remaining delete (k=3 in d2) and purges
    manifest_compact(spark, table_path)
    _, content = _latest_manifest(table_path)
    assert content["deletes"] == []
    assert manifest_count(table_path) == 3
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d1", 22.0),
        (4, "d2", 4.0),
    ]


def test_mor_delete_upsert_does_not_resurrect(spark, table_path):
    """An upsert touching a partition with pending deletes must not carry
    deleted rows over as merge survivors — deletes apply before the
    rewrite of every file the upsert touches, and files it carries by
    reference (file-granular copy-on-write) keep the entry PENDING so
    readers keep masking; compaction is the eager purge."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_delete,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d1", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    manifest_delete(spark.createDataFrame([(2,)], "k long"), table_path, ["k"])

    # upsert another key in the same partition: k=2 must stay gone
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d1", 30.0)]), table_path, ["k"], "day"
    )
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (3, "d1", 30.0),
    ]
    # the entry survives exactly as long as a file it scopes is live;
    # compaction rewrites them all and purges it, content unchanged
    manifest_compact(spark, table_path)
    _, content = _latest_manifest(table_path)
    assert content["deletes"] == []
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (3, "d1", 30.0),
    ]


def test_mor_delete_in_change_feed_and_time_travel(spark, table_path):
    """A delete commit surfaces as 'delete' rows in the change feed, and
    a version pinned BEFORE the delete still reads the full content."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_delete,
        manifest_diff,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    manifest_delete(spark.createDataFrame([(1,)], "k long"), table_path, ["k"])

    diff = manifest_diff(spark, table_path, from_version=1, to_version=2)
    rows = {(r.k, r.change_type) for r in diff.collect()}
    assert rows == {(1, "delete")}
    # time travel to the pre-delete version
    assert _content(manifest_read(spark, table_path, version=1)) == [
        (1, "d1", 1.0),
        (2, "d2", 2.0),
    ]
    # skipping/point readers honor the delete too
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_read_skipping,
    )

    assert _content(
        manifest_read_skipping(spark, table_path, {"k": (None, None)})
    ) == [(2, "d2", 2.0)]


def test_zorder_does_not_resurrect_deleted_rows(spark, table_path):
    """Code-review regression: clustering rewrites partitions into a new
    stage — pending MoR deletes must materialize in that rewrite, or the
    copied rows would leave the delete's scope and resurrect."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_cluster_zorder,
    )
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_delete,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d1", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    manifest_delete(spark.createDataFrame([(2,)], "k long"), table_path, ["k"])
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (3, "d1", 3.0),
    ]
    manifest_cluster_zorder(spark, table_path, ["v"], files_per_partition=2)
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (3, "d1", 3.0),
    ]
    _, content = _latest_manifest(table_path)
    assert content["deletes"] == []  # materialized -> purged


def test_maintenance_upsert_preserves_stream_markers(spark, table_path):
    """Code-review regression: a plain upsert (no extra_meta) must carry
    the streaming batch markers through — erasing them would let a
    post-crash replay re-apply an old batch over newer data."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        foreach_batch_manifest_upsert,
    )

    apply_batch = foreach_batch_manifest_upsert(table_path, ["k"], "day")
    apply_batch(_batch(spark, [(1, "d1", 1.0)]), 0)
    apply_batch(_batch(spark, [(2, "d1", 20.0)]), 1)

    # maintenance write from another component
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d1", 99.0)]), table_path, ["k"], "day"
    )
    _, content = _latest_manifest(table_path)
    assert content.get("stream_batches") == {"default": 1}

    # crash-replay of batch 1 must be recognized and NOT clobber v=99
    apply_batch(_batch(spark, [(2, "d1", 20.0)]), 1)
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d1", 99.0),
    ]


def test_stream_markers_scoped_per_app(spark, table_path):
    """Two streaming queries into one table track independent batch
    sequences (Delta txnAppId semantics): app B committing batch 7 must
    not swallow app A's batch 4."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        foreach_batch_manifest_upsert,
    )

    apply_a = foreach_batch_manifest_upsert(table_path, ["k"], "day", app_id="A")
    apply_b = foreach_batch_manifest_upsert(table_path, ["k"], "day", app_id="B")
    apply_a(_batch(spark, [(1, "d1", 1.0)]), 3)
    apply_b(_batch(spark, [(2, "d1", 2.0)]), 7)
    apply_a(_batch(spark, [(3, "d1", 3.0)]), 4)  # would be dropped if global
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d1", 2.0),
        (3, "d1", 3.0),
    ]
    # replay within each scope still skips
    apply_b(_batch(spark, [(2, "d1", 999.0)]), 7)
    assert (2, "d1", 2.0) in _content(manifest_read(spark, table_path))


def test_vacuum_removes_purged_delete_key_dirs(spark, table_path):
    """Code-review regression: delete-key refs are Spark-written
    DIRECTORIES; vacuum must rmtree them once unreferenced instead of
    crashing with IsADirectoryError."""
    import os

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_delete,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    manifest_delete(spark.createDataFrame([(2,)], "k long"), table_path, ["k"])
    manifest_compact(spark, table_path)  # materializes + purges the entry
    removed = manifest_vacuum(table_path, keep_versions=1)
    assert removed >= 1
    assert os.listdir(f"{table_path}/_deletes") == []  # key dir GC'd
    assert _content(manifest_read(spark, table_path)) == [(1, "d1", 1.0)]


def test_history_and_timestamp_travel(spark, table_path):
    """DESCRIBE HISTORY: each commit records its operation and timestamp
    (pure metadata); as_of reads resolve the newest version committed
    at-or-before the given instant."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_delete,
        manifest_history,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    t_after_v1 = manifest_history(table_path)[-1]["committed_at"]
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d2", 2.0)]), table_path, ["k"], "day"
    )
    manifest_delete(spark.createDataFrame([(1,)], "k long"), table_path, ["k"])
    manifest_compact(spark, table_path)

    hist = manifest_history(table_path)
    assert [h["op"] for h in hist] == ["upsert", "upsert", "delete", "compact"]
    assert [h["version"] for h in hist] == [1, 2, 3, 4]
    assert all(h["committed_at"] is not None for h in hist)
    assert hist[2]["pending_deletes"] == 1 and hist[3]["pending_deletes"] == 0

    # timestamp travel: the instant after v1 resolves v1's content
    got = _content(manifest_read(spark, table_path, as_of=t_after_v1))
    assert got == [(1, "d1", 1.0)]


def test_disjoint_writer_fast_forwards_without_restage(
    spark, table_path, monkeypatch
):
    """Logical conflict detection: losing the version race to a writer
    that touched DIFFERENT partitions is not a data conflict — the upsert
    fast-forwards its staged metadata onto the winner's head and commits,
    with no CommitConflict escaping and no second staging write."""
    from data_management_service_run_etl_imputations_spark.sources import sinks

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )

    real_latest = sinks._latest_manifest
    state = {"raced": False}

    def racing_latest(path):
        v, c = real_latest(path)
        if not state["raced"]:
            state["raced"] = True
            manifest_upsert_partitioned(
                _batch(spark, [(9, "d9", 9.0)]), path, ["k"], "day"
            )
        return v, c

    monkeypatch.setattr(sinks, "_latest_manifest", racing_latest)
    # DIRECT call — no with_commit_retry safety net: the fast-forward
    # path inside the upsert must absorb the race by itself
    manifest_upsert_partitioned(
        _batch(spark, [(2, "d2", 2.0)]), table_path, ["k"], "day"
    )
    monkeypatch.setattr(sinks, "_latest_manifest", real_latest)

    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d2", 2.0),
        (9, "d9", 9.0),
    ]
    # exactly one staging directory per upsert — a restage would orphan
    # a fourth
    assert len(os.listdir(f"{table_path}/data")) == 3
    v, _ = _latest_manifest(table_path)
    assert v == 3


def test_overlapping_writer_conflicts_then_retry_merges(
    spark, table_path, monkeypatch
):
    """A racing writer that rewrote one of OUR partitions is a genuine
    data conflict: the staged merge was computed against a stale base, so
    the direct call raises CommitConflict; with_commit_retry re-merges
    against the winner's head and both writers' rows survive. The failed
    attempt's orphaned stage is reclaimed by vacuum."""
    from data_management_service_run_etl_imputations_spark.sources import sinks
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        CommitConflict,
        with_commit_retry,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )

    real_latest = sinks._latest_manifest
    state = {"raced": False}

    def racing_latest(path):
        v, c = real_latest(path)
        if not state["raced"]:
            state["raced"] = True
            manifest_upsert_partitioned(
                _batch(spark, [(1, "d1", 99.0)]), path, ["k"], "day"
            )
        return v, c

    monkeypatch.setattr(sinks, "_latest_manifest", racing_latest)
    b2 = _batch(spark, [(2, "d1", 2.0)])
    with pytest.raises(CommitConflict):
        manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    monkeypatch.setattr(sinks, "_latest_manifest", real_latest)

    with_commit_retry(
        lambda: manifest_upsert_partitioned(b2, table_path, ["k"], "day")
    )
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 99.0),
        (2, "d1", 2.0),
    ]
    # the conflicted attempt left an orphaned stage; vacuum reclaims it
    assert manifest_vacuum(table_path) >= 1


def test_restore_to_version_preserves_history_and_markers(spark, table_path):
    """RESTORE: metadata-only re-commit of an earlier snapshot as the new
    head; history keeps the undone versions; streaming batch markers stay
    monotone (per-app max of target and head) so a restore can never make
    an exactly-once sink re-apply a committed batch."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_history,
        manifest_restore,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d2", 2.0)]),
        table_path,
        ["k"],
        "day",
        extra_meta={"stream_batches": {"app": 5}},
    )
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 666.0), (3, "d3", 3.0)]),
        table_path,
        ["k"],
        "day",
        extra_meta={"stream_batches": {"app": 7}},
    )

    r = manifest_restore(table_path, version=1)
    assert r == {"restored_version": 1, "new_version": 3}
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d2", 2.0),
    ]
    hist = manifest_history(table_path)
    assert [h["op"] for h in hist] == ["upsert", "upsert", "restore(v1)"]
    # the undone version stays time-travel readable
    assert _content(manifest_read(spark, table_path, version=2)) == [
        (1, "d1", 666.0),
        (2, "d2", 2.0),
        (3, "d3", 3.0),
    ]
    # markers: restored content carries max(v1.app=5, head.app=7) = 7
    _, content = _latest_manifest(table_path)
    assert content["stream_batches"] == {"app": 7}

    # restoring to a snapshot whose data was removed fails loudly
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _resolve_manifest,
    )

    _, v2 = _resolve_manifest(table_path, 2)
    shutil.rmtree(f"{table_path}/{v2['partitions']['d3']}".rsplit("/__p=", 1)[0])
    with pytest.raises(ValueError, match="vacuumed"):
        manifest_restore(table_path, version=2)


def test_latest_hint_o1_resolution_and_self_healing(spark, table_path):
    """The _latest hint makes head resolution O(1); a stale, regressed,
    or corrupt hint is never load-bearing — forward probe or directory
    listing recovers the true head."""
    for i in range(3):
        manifest_upsert_partitioned(
            _batch(spark, [(i, f"d{i}", float(i))]), table_path, ["k"], "day"
        )
    hint_path = f"{table_path}/_commits/_latest"
    with open(hint_path) as f:
        assert int(f.read()) == 3

    # regressed hint (out-of-order commit finishers): forward probe heals
    with open(hint_path, "w") as f:
        f.write("1")
    v, c = _latest_manifest(table_path)
    assert v == 3 and c["partitions"].keys() == {"d0", "d1", "d2"}

    # hint pointing at a nonexistent version: listing fallback
    with open(hint_path, "w") as f:
        f.write("999")
    assert _latest_manifest(table_path)[0] == 3

    # corrupt hint: listing fallback
    with open(hint_path, "w") as f:
        f.write("not-a-version")
    assert _latest_manifest(table_path)[0] == 3

    os.remove(hint_path)
    assert _latest_manifest(table_path)[0] == 3

    # vacuum refreshes the hint so it never points at a removed version
    manifest_vacuum(table_path, keep_versions=1)
    with open(hint_path) as f:
        assert int(f.read()) == 3


def test_randomized_mixed_protocol_ops_match_model(spark, table_path):
    """Model-based check over the FULL protocol surface: a seeded random
    interleaving of upsert / row-level delete / compact / z-order /
    restore must leave the table equal to a pure-Python model fold at
    every step, and the physical-layout ops (compact, zorder) must never
    change logical content. Restore rolls the model back to the snapshot
    the restored version carried."""
    import random

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_delete,
        manifest_restore,
        manifest_upsert_partitioned as upsert,
    )
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_cluster_zorder,
    )

    rng = random.Random(7)
    model: dict[int, tuple] = {}
    # snapshots[v] = model state as of committed version v
    snapshots: dict[int, dict[int, tuple]] = {}

    # seed so every op has a table to act on
    upsert(
        _batch(spark, [(0, "d0", 0.0), (1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    model = {0: (0, "d0", 0.0), 1: (1, "d1", 1.0)}
    snapshots[_latest_manifest(table_path)[0]] = dict(model)

    for step in range(14):
        op = rng.choices(
            ["upsert", "delete", "compact", "zorder", "restore"],
            weights=[5, 3, 1, 1, 1],
        )[0]
        if op == "upsert":
            batch = {}
            for _ in range(rng.randint(1, 8)):
                k = rng.randint(0, 14)
                batch[k] = (k, f"d{k % 3}", float(rng.randint(0, 99)))
            upsert(_batch(spark, sorted(batch.values())), table_path, ["k"], "day")
            model.update(batch)
        elif op == "delete":
            ks = sorted({rng.randint(0, 14) for _ in range(rng.randint(1, 4))})
            manifest_delete(
                spark.createDataFrame([(k,) for k in ks], "k long"),
                table_path,
                ["k"],
            )
            for k in ks:
                model.pop(k, None)
        elif op == "compact":
            manifest_compact(spark, table_path)
        elif op == "zorder":
            manifest_cluster_zorder(spark, table_path, ["k", "v"])
        else:  # restore to a uniformly random earlier snapshot
            target = rng.choice(sorted(snapshots))
            manifest_restore(table_path, version=target)
            model = dict(snapshots[target])
        v = _latest_manifest(table_path)[0]
        snapshots[v] = dict(model)
        got = _content(manifest_read(spark, table_path))
        assert got == sorted(model.values()), f"step {step} op {op}"


def test_threaded_concurrent_upserts_all_land(spark, table_path):
    """REAL concurrency (not simulated interleaving): four writer threads
    each upsert three batches into their own partition through one shared
    SparkSession. Disjoint-partition fast-forward plus the retry loop must
    land every commit — no lost update, no deadlock — and the final table
    equals the per-thread last-write fold."""
    import threading

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_history,
        with_commit_retry,
    )

    n_threads, n_rounds = 4, 2
    errors: list[Exception] = []

    def writer(t: int) -> None:
        try:
            for r in range(n_rounds):
                b = _batch(spark, [(t, f"d{t}", float(10 * t + r))])
                with_commit_retry(
                    lambda b=b: manifest_upsert_partitioned(
                        b, table_path, ["k"], "day"
                    ),
                    max_attempts=10,
                )
        except Exception as e:  # pragma: no cover — failure is the assert
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert errors == []

    # every thread's LAST write won its partition
    assert _content(manifest_read(spark, table_path)) == [
        (t, f"d{t}", float(10 * t + n_rounds - 1)) for t in range(n_threads)
    ]
    # nothing was silently dropped: every commit is in the history
    hist = manifest_history(table_path)
    assert len(hist) == n_threads * n_rounds
    assert all(h["op"] == "upsert" for h in hist)


def test_incremental_log_bounds_commit_cost(spark, table_path):
    """The commit log is incremental: after the v1 snapshot, a commit
    serializes only its diff (O(touched partitions)), with a full
    checkpoint every CHECKPOINT_EVERY versions bounding the replay chain.
    A one-partition upsert on a wide table must write a metadata file
    several times smaller than the full snapshot, and every read /
    time-travel / history / vacuum path must materialize through the
    chain correctly."""
    import json

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        CHECKPOINT_EVERY,
        manifest_history,
    )

    assert CHECKPOINT_EVERY == 8  # the cadence this test drives through

    wide = [(k, f"d{k}", float(k)) for k in range(40)]
    manifest_upsert_partitioned(
        _batch(spark, wide), table_path, ["k"], "day"
    )
    size_full = os.path.getsize(f"{table_path}/_commits/1.json")

    # seven single-partition upserts: v2..v7 are deltas, v8 a checkpoint
    for r in range(2, 9):
        manifest_upsert_partitioned(
            _batch(spark, [(0, "d0", float(100 + r))]), table_path, ["k"], "day"
        )
    raw2 = open(f"{table_path}/_commits/2.json").read()
    assert "delta_from" in raw2
    size_delta = os.path.getsize(f"{table_path}/_commits/2.json")
    assert size_delta * 5 < size_full, (size_delta, size_full)
    # EVERY commit after v1 is a delta — the anchor role moved to the
    # out-of-log parquet checkpoint, so no commit ever serializes
    # O(table) metadata on the driver
    raw8 = json.loads(open(f"{table_path}/_commits/8.json").read())
    assert "delta_from" in raw8
    assert not os.path.isdir(f"{table_path}/_commits/_checkpoints")

    # materialization through the delta chain: latest and mid-chain reads
    expect = {k: (k, f"d{k}", float(k)) for k in range(40)}
    expect[0] = (0, "d0", 108.0)
    assert _content(manifest_read(spark, table_path)) == sorted(expect.values())
    mid = dict(expect)
    mid[0] = (0, "d0", 104.0)
    assert _content(
        manifest_read(spark, table_path, version=4)
    ) == sorted(mid.values())

    # history replays deltas without materializing per row
    hist = manifest_history(table_path)
    assert [h["version"] for h in hist] == list(range(1, 9))
    assert all(h["op"] == "upsert" for h in hist)
    assert all(h["n_partitions"] == 40 for h in hist)

    # v9 drifts CHECKPOINT_EVERY past the v1 anchor: the writer drops an
    # executor-written parquet checkpoint (commit itself stays a delta)
    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 999.0)]), table_path, ["k"], "day"
    )
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _has_checkpoint,
    )

    assert _has_checkpoint(table_path, 9)
    raw9 = json.loads(open(f"{table_path}/_commits/9.json").read())
    assert "delta_from" in raw9

    # vacuum: the checkpoint is the anchor, so the whole delta chain
    # below the kept head can go; reads materialize from the checkpoint
    manifest_vacuum(table_path, keep_versions=1)
    left = sorted(
        int(n[:-5])
        for n in os.listdir(f"{table_path}/_commits")
        if n.endswith(".json")
    )
    assert left == [9], left
    expect[1] = (1, "d1", 999.0)
    assert _content(manifest_read(spark, table_path)) == sorted(expect.values())


def test_vacuum_time_based_retention(spark, table_path):
    """retain_seconds keeps every version committed within the window
    even past keep_versions — a long-running reader's snapshot survives
    an aggressive vacuum; retain 0 falls back to pure version-count
    retention."""
    for i in range(3):
        manifest_upsert_partitioned(
            _batch(spark, [(i, f"d{i}", float(i))]), table_path, ["k"], "day"
        )
    # everything is seconds old: a 1-hour window protects all versions
    manifest_vacuum(table_path, keep_versions=1, retain_seconds=3600)
    left = sorted(
        int(n[:-5])
        for n in os.listdir(f"{table_path}/_commits")
        if n.endswith(".json")
    )
    assert left == [1, 2, 3]
    assert _content(manifest_read(spark, table_path, version=1)) == [
        (0, "d0", 0.0)
    ]

    # zero window: version-count retention keeps only v3 — vacuum's log
    # compaction rewrites it as a content-identical full snapshot, so
    # the delta chain below is no longer needed and is pruned
    manifest_vacuum(table_path, keep_versions=1, retain_seconds=0)
    left = sorted(
        int(n[:-5])
        for n in os.listdir(f"{table_path}/_commits")
        if n.endswith(".json")
    )
    assert left == [3]
    assert _content(manifest_read(spark, table_path)) == [
        (0, "d0", 0.0),
        (1, "d1", 1.0),
        (2, "d2", 2.0),
    ]


def test_optimized_write_sorted_files_enable_skipping(spark, table_path):
    """sort_cols on the upsert: staged files each cover a narrow range of
    the sort key, so zone-map skipping engages right after ANALYZE — no
    Z-ORDER pass needed when one dimension dominates. A ~10% range probe
    must prune at least half the files; content is unaffected."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_stats,
        manifest_skipping_plan,
    )

    n = 8000
    df = spark.range(n).select(
        F.col("id").alias("k"),
        F.lit("d0").alias("day"),
        # value uncorrelated with id so unsorted files span the domain
        ((F.col("id") * 2654435761) % 100000).cast("double").alias("v"),
    )
    manifest_upsert_partitioned(
        df.repartition(16), table_path, ["k"], "day", sort_cols=["v"]
    )
    manifest_collect_stats(spark, table_path, ["v"])
    kept, n_kept, n_total, _ = manifest_skipping_plan(
        table_path, {"v": (0.0, 9999.0)}
    )
    assert n_total >= 8, n_total  # enough files for pruning to mean much
    assert n_kept <= n_total // 2, (n_kept, n_total)
    assert manifest_read(spark, table_path).count() == n


def test_merge_update_delete_insert_clauses(spark, table_path):
    """MERGE INTO surface: conditional update expressions over t/s,
    matched-delete predicate, not-matched insert — counts and content
    pin each clause; untouched partitions carry by reference; a
    partition emptied by deletes drops from the manifest."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_merge,
    )

    manifest_upsert_partitioned(
        _batch(
            spark,
            [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0), (4, "d3", 4.0)],
        ),
        table_path,
        ["k"],
        "day",
    )
    before_parts = dict(_latest_manifest(table_path)[1]["partitions"])

    src = _batch(spark, [(1, "d1", 10.0), (2, "d1", 0.0), (9, "d2", 9.0)])
    r = manifest_merge(
        src,
        table_path,
        ["k"],
        "day",
        matched_update={"v": "t.v + s.v"},
        matched_delete="s.v = 0.0",
        insert_not_matched=True,
    )
    assert r == {"updated": 1, "deleted": 1, "inserted": 1}
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 11.0),
        (3, "d2", 3.0),
        (4, "d3", 4.0),
        (9, "d2", 9.0),
    ]
    # untouched d3 carried by reference (same directory entry)
    after_parts = _latest_manifest(table_path)[1]["partitions"]
    assert after_parts["d3"] == before_parts["d3"]

    # delete-only merge that empties d3: the partition disappears
    r2 = manifest_merge(
        _batch(spark, [(4, "d3", 0.0)]),
        table_path,
        ["k"],
        "day",
        matched_delete="true",
        insert_not_matched=False,
    )
    assert r2 == {"updated": 0, "deleted": 1, "inserted": 0}
    assert "d3" not in _latest_manifest(table_path)[1]["partitions"]
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 11.0),
        (3, "d2", 3.0),
        (9, "d2", 9.0),
    ]


def test_merge_rejects_partition_update_and_empty_source_noop(
    spark, table_path
):
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_merge,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    with pytest.raises(ValueError, match="partition column"):
        manifest_merge(
            _batch(spark, [(1, "d9", 1.0)]),
            table_path,
            ["k"],
            "day",
            matched_update={"day": "s.day"},
        )
    v_before = _latest_manifest(table_path)[0]
    r = manifest_merge(
        _batch(spark, []),
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v"},
        insert_not_matched=False,
    )
    assert r == {"updated": 0, "deleted": 0, "inserted": 0}
    assert _latest_manifest(table_path)[0] == v_before  # no empty commit


def test_merge_rejects_duplicate_source_keys(spark, table_path):
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_merge,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    dup = _batch(spark, [(1, "d1", 2.0), (1, "d1", 3.0)])
    with pytest.raises(ValueError, match="duplicate merge keys"):
        manifest_merge(
            dup, table_path, ["k"], "day", matched_update={"v": "s.v"}
        )


def test_protocol_version_guard(spark, table_path):
    """A manifest stamped with a higher reader protocol (written by
    newer code) fails reads loudly instead of misreading; current-code
    commits stamp the supported version."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        PROTOCOL_VERSION,
        UnsupportedProtocol,
        _latest_manifest,
        _publish_manifest,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    v, content = _latest_manifest(table_path)
    # commits stamp the LOWEST protocol their content requires — a table
    # not using column mapping stays readable by protocol-1 code even
    # though this engine understands up to PROTOCOL_VERSION
    assert content["protocol"] == 1
    assert PROTOCOL_VERSION >= 2

    _publish_manifest(
        table_path, v + 1, dict(content, protocol=PROTOCOL_VERSION + 1)
    )
    with pytest.raises(UnsupportedProtocol, match="upgrade"):
        manifest_read(spark, table_path)
    # pinned reads of OLD versions still work
    assert _content(manifest_read(spark, table_path, version=v)) == [
        (1, "d1", 1.0)
    ]


def test_table_constraints_enforced_on_write(spark, table_path):
    """CHECK constraints live in the manifest and are enforced by
    counters riding the write job itself (DataFrame.observe — no extra
    scan): a violating upsert/merge/replace batch aborts BEFORE staging,
    leaving the table on its previous version; NULL predicate results
    violate (proven-good-only); DROP CONSTRAINT re-opens the gate."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        ConstraintViolation,
        manifest_add_constraint,
        manifest_drop_constraint,
        manifest_history,
        manifest_merge,
        manifest_replace_partitions,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    manifest_add_constraint(spark, table_path, "v_nonneg", "v >= 0")
    assert manifest_history(table_path)[-1]["op"] == "add-constraint(v_nonneg)"
    with pytest.raises(ValueError, match="already exists"):
        manifest_add_constraint(spark, table_path, "v_nonneg", "v >= 0")

    # a clean batch commits; version advances past the constraint commit
    manifest_upsert_partitioned(
        _batch(spark, [(4, "d2", 4.0)]), table_path, ["k"], "day"
    )
    v_good, _ = _latest_manifest(table_path)

    # violating upsert: loud, counted, nothing committed or staged
    bad = _batch(spark, [(5, "d3", -1.0), (6, "d3", 6.0), (7, "d3", None)])
    with pytest.raises(ConstraintViolation) as ei:
        manifest_upsert_partitioned(bad, table_path, ["k"], "day")
    assert ei.value.counts == {"v_nonneg": 2}  # NULL is a violation
    v_after, content = _latest_manifest(table_path)
    assert v_after == v_good
    # aborted BEFORE staging: no orphan stage directory was written
    assert sorted(os.listdir(f"{table_path}/data")) == sorted(
        {rel.split("/")[1] for rel in content["partitions"].values()}
    )
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d1", 2.0),
        (3, "d2", 3.0),
        (4, "d2", 4.0),
    ]

    # merge and replace-partitions enforce the same set
    with pytest.raises(ConstraintViolation):
        manifest_merge(
            _batch(spark, [(1, "d1", -9.0)]),
            table_path,
            ["k"],
            "day",
            matched_update={"v": "s.v"},
        )
    with pytest.raises(ConstraintViolation):
        manifest_replace_partitions(
            _batch(spark, [(3, "d2", -3.0)]), table_path, "day", ["d2"]
        )

    # adding a constraint the EXISTING data violates refuses (no commit)
    v_before, _ = _latest_manifest(table_path)
    with pytest.raises(ConstraintViolation):
        manifest_add_constraint(spark, table_path, "v_small", "v < 3")
    assert _latest_manifest(table_path)[0] == v_before

    manifest_drop_constraint(table_path, "v_nonneg")
    with pytest.raises(KeyError):
        manifest_drop_constraint(table_path, "v_nonneg")
    manifest_upsert_partitioned(
        _batch(spark, [(5, "d3", -1.0)]), table_path, ["k"], "day"
    )
    assert (1, "d1", 1.0) in _content(manifest_read(spark, table_path))


def test_constraint_change_refuses_fast_forward(spark, table_path):
    """A writer that staged against constraint set A must not fast-forward
    over a head whose constraints changed to B — its batch was never
    validated against B. The safety predicate refuses, forcing the full
    revalidating retry."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _upsert_fast_forward_safe,
    )

    b1 = _batch(spark, [(1, "d1", 1.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    _, base = _latest_manifest(table_path)
    head = dict(base)
    head["constraints"] = {"v_nonneg": "v >= 0"}
    assert _upsert_fast_forward_safe(base, head, ["d9"], "parquet", "day") is False
    # identical constraint sets stay fast-forwardable on disjoint keys
    head2 = dict(base)
    assert _upsert_fast_forward_safe(base, head2, ["d9"], "parquet", "day") is True


def test_history_carries_operation_metrics(spark, table_path):
    """DESCRIBE HISTORY exposes per-commit operation metrics (what THIS
    commit did — never carried from the parent): upsert rows/files,
    compact before/after, delete key counts, metadata-only commits {}."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_add_constraint,
        manifest_compact,
        manifest_delete,
        manifest_history,
    )

    b1 = _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)])
    manifest_upsert_partitioned(b1, table_path, ["k"], "day")
    manifest_upsert_partitioned(
        _batch(spark, [(4, "d2", 4.0)]), table_path, ["k"], "day"
    )
    manifest_delete(
        spark.createDataFrame([(4,)], "k long"), table_path, ["k"]
    )
    manifest_compact(spark, table_path)
    manifest_add_constraint(spark, table_path, "v_nonneg", "v >= 0")

    hist = manifest_history(table_path)
    by_op = {h["op"]: h["op_metrics"] for h in hist}
    first_upsert = [h for h in hist if h["op"] == "upsert"][0]["op_metrics"]
    assert first_upsert["rows_staged"] == 3
    assert first_upsert["partitions_rewritten"] == 2
    assert first_upsert["files_added"] >= 2
    assert by_op["delete"] == {"delete_keys": 1}
    assert by_op["compact"]["partitions_compacted"] >= 1
    assert by_op["compact"]["files_after"] >= 1
    assert by_op["add-constraint(v_nonneg)"] == {}
    # the second upsert's metrics are its OWN, not the first commit's
    v2 = [h for h in hist if h["op"] == "upsert"][1]["op_metrics"]
    assert v2["rows_staged"] >= 1 and v2["partitions_rewritten"] == 1


def test_merge_conflict_never_fast_forwards(spark, table_path, monkeypatch):
    """MERGE's pass-1 match probe reads table state OUTSIDE the partitions
    it rewrites, so losing the commit race is ALWAYS a data conflict — even
    to a writer whose commit touched only partitions the merge did not.
    Here the racing upsert inserts a source-matching key into a partition
    the merge classified as untouched: a fast-forward would commit a
    duplicate insert; the direct call must raise CommitConflict, and
    with_commit_retry's full re-merge classifies the key as matched."""
    from data_management_service_run_etl_imputations_spark.sources import sinks
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        CommitConflict,
        manifest_merge,
        with_commit_retry,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )

    real_latest = sinks._latest_manifest
    state = {"raced": False}

    def racing_latest(path):
        v, c = real_latest(path)
        if not state["raced"]:
            state["raced"] = True
            manifest_upsert_partitioned(
                _batch(spark, [(2, "d9", 99.0)]), path, ["k"], "day"
            )
        return v, c

    monkeypatch.setattr(sinks, "_latest_manifest", racing_latest)
    run = lambda: manifest_merge(  # noqa: E731
        _batch(spark, [(2, "d2", 2.0)]),
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v"},
        insert_not_matched=True,
    )
    with pytest.raises(CommitConflict):
        run()
    monkeypatch.setattr(sinks, "_latest_manifest", real_latest)

    r = with_commit_retry(run)
    # the retry saw the raced row: k=2 is an UPDATE in d9, not an insert
    assert r == {"updated": 1, "deleted": 0, "inserted": 0}
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d9", 2.0),
    ]


def test_vacuum_gap_free_versions_and_monotone_hint(spark, table_path):
    """Version files stay DENSE above vacuum's retention floor, and the
    _latest hint never regresses: the pair of invariants that keeps
    _latest_manifest's O(1) forward probe from resolving a stale head
    (which a later writer would fork history on). Gap pressure is real —
    clock skew can make retain_seconds keep an OLD version while newer
    ones age out by count."""
    import json

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _write_latest_hint,
    )

    for i in range(10):
        manifest_upsert_partitioned(
            _batch(spark, [(i, f"d{i}", float(i))]), table_path, ["k"], "day"
        )
    d = f"{table_path}/_commits"

    # skewed writer clock: version 2's committed_at lands in the future,
    # so time-based retention keeps it while 3..7 age out by count
    p2 = f"{d}/2.json"
    with open(p2) as f:
        c2 = json.load(f)
    import time

    (c2["actions"]["set"] if "delta_from" in c2 else c2)[
        "committed_at"
    ] = time.time() + 1e6
    with open(p2, "w") as f:
        json.dump(c2, f)

    manifest_vacuum(table_path, keep_versions=1, retain_seconds=3600)
    present = sorted(
        int(n[:-5]) for n in os.listdir(d) if n.endswith(".json")
    )
    # every version is seconds old, so the 1-hour window keeps them all
    # (the future-dated v2 included); density holds trivially — no holes
    assert present == list(range(1, 11)), present

    # a regressed hint below where a gap would have been still resolves
    # the true head through the dense forward probe
    with open(f"{d}/_latest", "w") as f:
        f.write("2")
    assert _latest_manifest(table_path)[0] == 10

    # the hint writer itself is monotone: a late, out-of-order writer
    # cannot drag the hint backwards
    _write_latest_hint(d, 10)
    _write_latest_hint(d, 3)
    with open(f"{d}/_latest") as f:
        assert int(f.read()) == 10


def test_compact_drops_fully_deleted_partition(spark, table_path):
    """Compaction materializes pending MoR deletes; a partition whose
    rows are ALL deleted must drop out of the manifest (same contract as
    the upsert path), not point at a directory the write never created —
    a later partition-pruned read of it returns empty instead of failing."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_delete,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_delete(
        spark.createDataFrame([(3,)], "k long"), table_path, ["k"]
    )
    manifest_compact(spark, table_path)

    content = _latest_manifest(table_path)[1]
    assert "d2" not in content["partitions"]
    assert "d2" not in content.get("files", {})
    assert content.get("deletes") in (None, [])  # purged with its stages
    assert _content(manifest_read(spark, table_path)) == [
        (1, "d1", 1.0),
        (2, "d1", 2.0),
    ]
    # the bug's repro: a pruned read of the emptied partition is a clean
    # empty result, not a load failure on a nonexistent path
    assert (
        manifest_read(spark, table_path, partition_values=["d2"]).count()
        == 0
    )


def test_merge_probe_prunes_with_index_sidecars(spark, table_path):
    """Evidence for the stats-pruned MERGE probe: on a table whose key
    zone-maps and bloom index are collected, a narrow merge's pass-1
    match scan loads only the files that can hold source keys — probe
    file count << live files (recorded in the commit's op_metrics) — and
    the merge result is unchanged."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_history,
        manifest_merge,
    )
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_collect_stats,
    )

    # 8 partitions, one file each, disjoint key ranges per file
    for p in range(8):
        manifest_upsert_partitioned(
            _batch(
                spark,
                [(p * 10 + j, f"d{p}", float(j)) for j in range(5)],
            ),
            table_path,
            ["k"],
            "day",
        )
    manifest_collect_stats(spark, table_path, ["k"])
    manifest_collect_bloom(spark, table_path, "k", bits=1024, k=4)

    r = manifest_merge(
        _batch(spark, [(53, "d5", 99.0)]),
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v"},
        insert_not_matched=True,
    )
    assert r == {"updated": 1, "deleted": 0, "inserted": 0}
    m = [h for h in manifest_history(table_path) if h["op"] == "merge"][-1][
        "op_metrics"
    ]
    assert m["live_files"] >= 8
    # zone maps + bloom pin the probe to the file(s) actually holding
    # k=53 — a small constant, nowhere near the live file count
    assert m["probe_files"] <= 2, m
    assert m["probe_files"] < m["live_files"] // 4, m
    assert (53, "d5", 99.0) in _content(manifest_read(spark, table_path))

    # a merge whose keys match nothing: every INDEXED file prunes; only
    # the file the previous merge rewrote (not yet re-analyzed, so kept —
    # skipping is never a correctness dependency) survives the probe
    r2 = manifest_merge(
        _batch(spark, [(999, "d9", 9.0)]),
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v"},
        insert_not_matched=True,
    )
    assert r2 == {"updated": 0, "deleted": 0, "inserted": 1}
    m2 = [h for h in manifest_history(table_path) if h["op"] == "merge"][-1][
        "op_metrics"
    ]
    assert m2["probe_files"] <= 1, m2


def test_merge_file_granular_rewrite_carries_unmatched_files(
    spark, table_path
):
    """FILE-granular copy-on-write (VERDICT r06 #1): a narrow merge into
    a multi-file partition rewrites ONLY the files its exact probe found
    matching keys in — op_metrics show files_rewritten << the partition's
    file count, the rest carry by reference — and vacuum keeps the
    carried files' stages alive (liveness from the FILE lists, not the
    partition's primary dir)."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_history,
        manifest_merge,
    )

    # one partition, 6 files: each disjoint-key upsert matches nothing,
    # so it stages one new file and carries the previous ones
    for i in range(6):
        manifest_upsert_partitioned(
            _batch(spark, [(100 * i + j, "d1", float(j)) for j in range(3)]),
            table_path,
            ["k"],
            "day",
        )
    _, content = _latest_manifest(table_path)
    n_files = len(content["files"]["d1"])
    assert n_files >= 6, content["files"]

    r = manifest_merge(
        _batch(spark, [(201, "d1", 999.0)]),
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v"},
        insert_not_matched=True,
    )
    assert r == {"updated": 1, "deleted": 0, "inserted": 0}
    m = [h for h in manifest_history(table_path) if h["op"] == "merge"][-1][
        "op_metrics"
    ]
    assert m["files_rewritten"] == 1, m
    assert m["files_carried"] >= n_files - 1, m

    # carried files live in stages the new primary dir does not name:
    # vacuum to the head snapshot must keep every one of them readable
    manifest_vacuum(table_path, keep_versions=1)
    got = _content(manifest_read(spark, table_path))
    assert len(got) == 18
    assert (201, "d1", 999.0) in got
    assert (200, "d1", 0.0) in got and (1, "d1", 1.0) in got


def test_upsert_file_granular_carries_unmatched_files(spark, table_path):
    """The partitioned upsert takes the same file-granular path: a batch
    touching one key of a many-file partition rewrites that key's file
    and carries the rest; re-reads stay exact and idempotent."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_history,
    )

    for i in range(5):
        manifest_upsert_partitioned(
            _batch(spark, [(10 * i, "d1", float(i))]),
            table_path,
            ["k"],
            "day",
        )
    r = manifest_upsert_partitioned(
        _batch(spark, [(20, "d1", 99.0)]), table_path, ["k"], "day"
    )
    assert r == {"updated": 1, "inserted": 0}
    m = manifest_history(table_path)[-1]["op_metrics"]
    assert m["files_rewritten"] == 1, m
    assert m["files_carried"] >= 4, m
    assert _content(manifest_read(spark, table_path)) == [
        (0, "d1", 0.0),
        (10, "d1", 1.0),
        (20, "d1", 99.0),
        (30, "d1", 3.0),
        (40, "d1", 4.0),
    ]


def test_escaped_partition_value_round_trips(spark, table_path):
    """A partition value Spark's dynamic-partition writer percent-escapes
    (':' in a timestamp-like value) must round-trip: the writer resolves
    the dirs Spark ACTUALLY wrote instead of hand-building '__p={value}',
    so the partition is neither silently dropped as 'emptied' (ADVICE r06
    finding) nor unreadable afterwards."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
    )

    b = _batch(
        spark,
        [(1, "2024-01-01 10:30", 1.0), (2, "x%y", 2.0), (3, "plain", 3.0)],
    )
    r = manifest_upsert_partitioned(b, table_path, ["k"], "day")
    assert r == {"updated": 0, "inserted": 3}
    assert _content(manifest_read(spark, table_path)) == [
        (1, "2024-01-01 10:30", 1.0),
        (2, "x%y", 2.0),
        (3, "plain", 3.0),
    ]
    # manifest-level pruning keys on the raw value
    assert (
        manifest_read(
            spark, table_path, partition_values=["2024-01-01 10:30"]
        ).count()
        == 1
    )
    # compact resolves the escaped dirs the same way
    manifest_compact(spark, table_path)
    assert _content(manifest_read(spark, table_path)) == [
        (1, "2024-01-01 10:30", 1.0),
        (2, "x%y", 2.0),
        (3, "plain", 3.0),
    ]
    # update inside the escaped partition
    manifest_upsert_partitioned(
        _batch(spark, [(1, "2024-01-01 10:30", 10.0)]),
        table_path,
        ["k"],
        "day",
    )
    assert (1, "2024-01-01 10:30", 10.0) in _content(
        manifest_read(spark, table_path)
    )


def test_bloom_probe_cross_type_never_false_negatives(spark, table_path):
    """ADVICE r06: a file bloom-indexed under STRING holding '01' must
    not be pruned for an INT source key 1 — Spark's join coercion makes
    '01' = 1 TRUE, but hashing the cast str(1) = '1' misses. The probe
    now refuses to prune across the string/numeric boundary, so the
    merge sees the match and updates instead of inserting a duplicate."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_merge,
        manifest_read,
    )
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
    )

    tbl = spark.createDataFrame(
        [("01", "d1", 1.0), ("07", "d1", 7.0)], "k STRING, day STRING, v DOUBLE"
    )
    manifest_upsert_partitioned(tbl, table_path, ["k"], "day")
    manifest_collect_bloom(spark, table_path, "k", bits=1024, k=4)

    src = spark.createDataFrame([(1, "d1", 99.0)], "k INT, day STRING, v DOUBLE")
    r = manifest_merge(
        src,
        table_path,
        ["k"],
        "day",
        matched_update={"v": "s.v"},
        insert_not_matched=True,
    )
    assert r == {"updated": 1, "deleted": 0, "inserted": 0}, r
    got = sorted(map(tuple, manifest_read(spark, table_path).collect()))
    assert got == [("01", "d1", 99.0), ("07", "d1", 7.0)], got


def test_latest_hint_below_vacuum_floor_falls_back_to_listing(
    spark, table_path
):
    """ADVICE r06: a hint stranded BELOW vacuum's density floor (its
    version file deleted) must throw _latest_manifest into the listing
    fallback, which resolves the true head — the cross-function invariant
    the monotone-hint design leans on, pinned end to end."""
    for i in range(10):
        manifest_upsert_partitioned(
            _batch(spark, [(i, f"d{i}", float(i))]), table_path, ["k"], "day"
        )
    manifest_vacuum(table_path, keep_versions=3)
    d = f"{table_path}/_commits"
    present = sorted(
        int(n[:-5]) for n in os.listdir(d) if n.endswith(".json")
    )
    assert present[0] == 8 and present[-1] == 10, present

    # a stalled writer publishes an arbitrarily old hint whose version
    # file vacuum already removed
    with open(f"{d}/_latest", "w") as f:
        f.write("3")
    v, content = _latest_manifest(table_path)
    assert v == 10
    assert len(content["partitions"]) == 10


@pytest.fixture()
def conditional_put_backend():
    """Swap in the object-store-shaped commit backend (atomic
    conditional PUT) for one test, restoring the POSIX default after."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        ConditionalPutCommitBackend,
        set_commit_backend,
    )

    prev = set_commit_backend(ConditionalPutCommitBackend())
    yield
    set_commit_backend(prev)


def test_conditional_put_backend_two_writer_race(
    spark, table_path, conditional_put_backend
):
    """The pluggable commit point (VERDICT r06 #5) under the
    object-store backend: same one-winner/loud-loser contract as the
    exclusive link, exercised through the identical protocol path."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        CommitConflict,
        _publish_manifest,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0)]), table_path, ["k"], "day"
    )
    version, content = _latest_manifest(table_path)
    _publish_manifest(table_path, version + 1, dict(content, winner="A"))
    with pytest.raises(CommitConflict):
        _publish_manifest(table_path, version + 1, dict(content, winner="B"))
    v2, c2 = _latest_manifest(table_path)
    assert v2 == version + 1 and c2.get("winner") == "A"
    # no in-flight debris visible as a commit
    assert not [
        n
        for n in os.listdir(f"{table_path}/_commits")
        if n.endswith(".inflight") or n.endswith(".tmp")
    ]


def test_conditional_put_backend_threaded_stress(
    spark, table_path, conditional_put_backend
):
    """Threaded writers against the conditional-PUT commit point: every
    commit lands exactly once (fast-forward + retry loop unchanged — the
    backend only swaps the atomicity primitive)."""
    import threading

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        with_commit_retry,
    )

    n_threads, n_rounds = 4, 2
    errors: list[Exception] = []

    def writer(t: int) -> None:
        try:
            for r in range(n_rounds):
                b = _batch(spark, [(t, f"d{t}", float(10 * t + r))])
                with_commit_retry(
                    lambda b=b: manifest_upsert_partitioned(
                        b, table_path, ["k"], "day"
                    ),
                    max_attempts=10,
                )
        except Exception as e:  # pragma: no cover — failure is the assert
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert errors == []
    assert _content(manifest_read(spark, table_path)) == [
        (t, f"d{t}", float(10 * t + n_rounds - 1)) for t in range(n_threads)
    ]


def test_parquet_checkpoint_anchors_reads_and_stays_o_diff(
    spark, table_path
):
    """Executor-written parquet checkpoints (VERDICT r06 #4): commits
    are ALWAYS O(diff) deltas; the periodic anchor is an out-of-log
    parquet checkpoint. A version materialized from the checkpoint
    equals the delta-replayed content byte for byte, an explicit
    checkpoint is idempotent, and commit-file size stays flat as the
    table grows."""
    import json

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _has_checkpoint,
        _load_checkpoint,
        _materialize,
        manifest_checkpoint,
    )

    wide = [(k, f"d{k % 7}", float(k)) for k in range(30)]
    manifest_upsert_partitioned(_batch(spark, wide), table_path, ["k"], "day")
    for r in range(2, 6):
        manifest_upsert_partitioned(
            _batch(spark, [(0, "d0", float(r))]), table_path, ["k"], "day"
        )

    # explicit checkpoint mid-history; idempotent on repeat
    v = manifest_checkpoint(spark, table_path)
    assert v == 5 and _has_checkpoint(table_path, 5)
    assert manifest_checkpoint(spark, table_path) == 5

    # checkpoint content == delta-replayed content (files order intact)
    replayed = dict(_materialize(table_path, 5))
    loaded = _load_checkpoint(table_path, 5)
    assert loaded["files"] == replayed["files"]
    assert loaded["partitions"] == replayed["partitions"]
    assert loaded["schema"] == replayed["schema"]

    # commit sizes: every post-v1 commit is a delta of bounded size
    sizes = [
        os.path.getsize(f"{table_path}/_commits/{i}.json") for i in range(2, 6)
    ]
    for i in range(2, 6):
        assert "delta_from" in json.loads(
            open(f"{table_path}/_commits/{i}.json").read()
        )
    assert max(sizes) < os.path.getsize(f"{table_path}/_commits/1.json")

    # reads after vacuum resolve through the checkpoint alone
    manifest_vacuum(table_path, keep_versions=1)
    got = _content(manifest_read(spark, table_path))
    assert (0, "d0", 5.0) in got and len(got) == 30


def test_bulk_upsert_skips_exact_probe_narrow_runs_it(spark, table_path):
    """Regime boundary of the file-granular match probe: a BULK source
    (>= _BULK_PROBE_MATCH_FACTOR keys per candidate file) skips the exact
    per-file key scan — every candidate is conservatively rewritten and
    op_metrics record probe_exact=False — while a narrow source keeps the
    exact scan (probe_exact=True) and rewrites only the matched file.
    Results are identical either way: the bulk path trades minimality,
    never correctness."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_history,
    )

    # two files in partition d0 (two insert-only upserts), disjoint keys
    manifest_upsert_partitioned(
        _batch(spark, [(k, "d0", float(k)) for k in range(0, 5)]),
        table_path,
        ["k"],
        "day",
    )
    manifest_upsert_partitioned(
        _batch(spark, [(k, "d0", float(k)) for k in range(100, 105)]),
        table_path,
        ["k"],
        "day",
    )
    content = _latest_manifest(table_path)[1]
    n_files = len(content["files"]["d0"])
    assert n_files >= 2

    # NARROW: one key -> exact scan runs, only the holding file rewrites
    manifest_upsert_partitioned(
        _batch(spark, [(3, "d0", 99.0)]), table_path, ["k"], "day"
    )
    m = manifest_history(table_path)[-1]["op_metrics"]
    assert m["probe_exact"] is True, m
    assert m["files_rewritten"] < n_files, m

    # BULK: 16*files keys -> probe skips the exact scan, rewrites all
    # candidates, and the table content is the exact upsert result
    n_live = len(_latest_manifest(table_path)[1]["files"]["d0"])
    bulk = [(k, "d0", -1.0) for k in range(0, 16 * n_live + 1)]
    manifest_upsert_partitioned(
        _batch(spark, bulk), table_path, ["k"], "day"
    )
    m2 = manifest_history(table_path)[-1]["op_metrics"]
    assert m2["probe_exact"] is False, m2
    assert m2["files_rewritten"] == m2["probe_files"], m2

    expect = {k: v for k, _, v in bulk}
    for k in range(100, 105):
        expect.setdefault(k, float(k))
    got = {
        r["k"]: r["v"]
        for r in manifest_read(spark, table_path).collect()
    }
    assert got == expect


def test_randomized_r7_ops_model_and_cdf_replay(spark, table_path):
    """Model-based check over the ROUND-7 protocol surface: a seeded
    random interleaving of upsert / full MERGE (update+delete+insert) /
    row-level delete / predicate DELETE WHERE (random mor/cow) /
    predicate UPDATE WHERE (random mor/cow) / column RENAME / compact on
    a MULTI-COLUMN partitioned table must equal a pure-Python model fold
    at every step (reads cross parquet-checkpoint anchors, id-mapped
    column generations, and positional delete masks along the way), and
    replaying ``manifest_diff`` version by version from 0 must rebuild
    the exact final content — the CDF consumer's contract across
    renames, merges, MoR deletes/updates and physical-layout commits
    (which must diff to NOTHING)."""
    import random

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
        manifest_delete,
        manifest_delete_where,
        manifest_diff,
        manifest_merge,
        manifest_rename_column,
        manifest_update_where,
        manifest_upsert_partitioned as upsert,
    )

    rng = random.Random(17)
    pcols = ["day", "src"]

    def _frame(rows, val):
        return spark.createDataFrame(
            rows, f"k LONG, day STRING, src STRING, {val} DOUBLE"
        )

    def _row(k, x):
        return (k, f"d{k % 3}", f"s{k % 2}", float(x))

    val = "v"  # current name of the value column (renames toggle it)
    model: dict[int, tuple] = {}

    upsert(_frame([_row(0, 0), _row(1, 1)], val), table_path, ["k"], pcols)
    model = {0: _row(0, 0), 1: _row(1, 1)}

    for step in range(18):
        op = rng.choices(
            [
                "upsert", "merge", "delete", "rename", "compact",
                "delete_where", "update_where",
            ],
            weights=[4, 4, 2, 2, 1, 2, 2],
        )[0]
        if op == "upsert":
            batch = {
                k: _row(k, rng.randint(0, 99))
                for k in {rng.randint(0, 11) for _ in range(rng.randint(1, 6))}
            }
            upsert(_frame(sorted(batch.values()), val), table_path, ["k"], pcols)
            model.update(batch)
        elif op == "merge":
            src = {
                k: _row(k, rng.randint(-30, 70))
                for k in {rng.randint(0, 11) for _ in range(rng.randint(1, 5))}
            }
            manifest_merge(
                _frame(sorted(src.values()), val),
                table_path,
                ["k"],
                pcols,
                matched_update={val: f"t.{val} + s.{val}"},
                matched_delete=f"s.{val} < 0",
                insert_not_matched=True,
            )
            for k, row in src.items():
                if k in model:
                    if row[3] < 0:
                        del model[k]
                    else:
                        old = model[k]
                        model[k] = old[:3] + (old[3] + row[3],)
                else:
                    model[k] = row
        elif op == "delete":
            ks = sorted({rng.randint(0, 11) for _ in range(rng.randint(1, 3))})
            manifest_delete(
                spark.createDataFrame([(k,) for k in ks], "k long"),
                table_path,
                ["k"],
            )
            for k in ks:
                model.pop(k, None)
        elif op == "delete_where":
            thr = float(rng.randint(20, 99))
            manifest_delete_where(
                spark,
                table_path,
                f"{val} >= {thr}",
                mode=rng.choice(["mor", "cow"]),
            )
            model = {k: r for k, r in model.items() if r[3] < thr}
        elif op == "update_where":
            m3 = rng.randint(0, 2)
            manifest_update_where(
                spark,
                table_path,
                {val: f"{val} + 7"},
                f"k % 3 = {m3}",
                mode=rng.choice(["mor", "cow"]),
            )
            model = {
                k: (r[:3] + (r[3] + 7.0,)) if k % 3 == m3 else r
                for k, r in model.items()
            }
        elif op == "rename":
            new = "w" if val == "v" else "v"
            manifest_rename_column(table_path, val, new)
            val = new
        else:
            manifest_compact(spark, table_path)
        got = sorted(
            map(
                tuple,
                manifest_read(spark, table_path)
                .select("k", "day", "src", val)
                .collect(),
            )
        )
        assert got == sorted(model.values()), f"step {step} op {op}"

    # deterministic tail (the seed may skip compact): materialize every
    # pending mask, then verify content and replay
    manifest_compact(spark, table_path)
    got = sorted(
        map(
            tuple,
            manifest_read(spark, table_path)
            .select("k", "day", "src", val)
            .collect(),
        )
    )
    assert got == sorted(model.values()), "post-compact"

    # CDF replay: fold every version's row-level diff from the empty
    # table; physical-layout commits contribute nothing, renames arrive
    # re-labelled by column id, MERGE arrives as its exact delete+insert
    # pairs — the fold must land precisely on the final table content
    head, _ = _latest_manifest(table_path)
    state: dict[int, tuple] = {}
    for ver in range(1, head + 1):
        d = manifest_diff(spark, table_path, ver - 1, ver)
        vcol = "w" if "w" in d.columns else "v"
        rows = d.select("k", "day", "src", vcol, "change_type").collect()
        for r in [x for x in rows if x["change_type"] == "delete"]:
            dropped = state.pop(r["k"])
            assert dropped == (r["k"], r["day"], r["src"], r[vcol]), ver
        for r in [x for x in rows if x["change_type"] == "insert"]:
            assert r["k"] not in state, (ver, r)
            state[r["k"]] = (r["k"], r["day"], r["src"], r[vcol])
    assert sorted(state.values()) == sorted(model.values())


def test_merge_schema_evolution_adds_source_columns(spark, table_path):
    """MERGE schema evolution: a source carrying a column the target
    lacks widens the table — inserts carry it, updates take it only
    where matched_update assigns it, carried rows read null, old files
    stay readable through their schema group, and on a MAPPED table the
    new column gets a fresh column id. A matched_update entry naming a
    column in neither side raises instead of silently no-oping."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_merge,
        manifest_rename_column,
    )

    manifest_upsert_partitioned(
        _batch(spark, [(1, "d1", 1.0), (2, "d1", 2.0), (3, "d2", 3.0)]),
        table_path,
        ["k"],
        "day",
    )
    # map the table first so evolution must assign a fresh id
    manifest_rename_column(table_path, "v", "amount")

    src = spark.createDataFrame(
        [(2, "d1", 20.0, "eur"), (9, "d2", 90.0, "usd")],
        "k LONG, day STRING, amount DOUBLE, ccy STRING",
    )
    r = manifest_merge(
        src,
        table_path,
        ["k"],
        "day",
        matched_update={"amount": "s.amount", "ccy": "s.ccy"},
        insert_not_matched=True,
    )
    assert r == {"updated": 1, "deleted": 0, "inserted": 1}

    got = sorted(
        map(
            tuple,
            manifest_read(spark, table_path)
            .select("k", "day", "amount", "ccy")
            .collect(),
        )
    )
    assert got == [
        (1, "d1", 1.0, None),   # carried row in rewritten file: null
        (2, "d1", 20.0, "eur"),  # updated, matched_update set the new col
        (3, "d2", 3.0, None),    # untouched partition, old schema group
        (9, "d2", 90.0, "usd"),  # inserted with the new column
    ], got

    content = _latest_manifest(table_path)[1]
    ids = content["col_ids"]
    assert "ccy" in ids and ids["ccy"] not in (
        ids["k"], ids["day"], ids["amount"],
    )

    # update without assigning the new column: existing value survives
    # on the updated row? No — Delta semantics: UPDATE SET only the
    # assigned columns; unassigned EXISTING columns keep t values, the
    # new column was already part of the table by now, so it keeps t.ccy
    r2 = manifest_merge(
        spark.createDataFrame(
            [(2, "d1", 21.0, "gbp")],
            "k LONG, day STRING, amount DOUBLE, ccy STRING",
        ),
        table_path,
        ["k"],
        "day",
        matched_update={"amount": "s.amount"},
        insert_not_matched=False,
    )
    assert r2 == {"updated": 1, "deleted": 0, "inserted": 0}
    row2 = (
        manifest_read(spark, table_path).filter("k = 2").collect()[0]
    )
    assert (row2["amount"], row2["ccy"]) == (21.0, "eur")

    with pytest.raises(ValueError, match="neither"):
        manifest_merge(
            src,
            table_path,
            ["k"],
            "day",
            matched_update={"amonut": "s.amount"},  # typo'd column
        )


def test_compact_target_file_mb_bounds_output_files(spark, table_path):
    """target_file_mb fans a large partition into multiple bounded
    output files (fan computed from manifest-recorded sizes, rewrite
    parallel across the fan) with identical logical content; default
    compaction still emits one file per partition."""
    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
    )

    # ~3-4 MB of poorly-compressible data in ONE partition, two stages
    df = (
        spark.range(30000)
        .select(
            F.col("id").alias("k"),
            F.lit("d0").alias("day"),
            F.sha2(F.concat(F.lit("a"), F.col("id").cast("string")), 512)
            .alias("payload"),
        )
    )
    for half in (0, 1):
        manifest_upsert_partitioned(
            df.filter(F.col("k") % 2 == half),
            table_path,
            ["k"],
            "day",
        )
    before = _latest_manifest(table_path)[1]
    part_bytes = sum(e[1] for e in before["files"]["d0"])
    assert part_bytes > 2 * (1 << 20), part_bytes

    r = manifest_compact(spark, table_path, target_file_mb=1)
    content = _latest_manifest(table_path)[1]
    n_files = len(content["files"]["d0"])
    import math

    want = math.ceil(part_bytes / (1 << 20))
    assert r["files_after"] == n_files
    assert n_files > 1, n_files
    # fan is the manifest-size estimate; allow the hash spread slack of
    # one empty bucket but never MORE files than the fan
    assert n_files <= want, (n_files, want)
    assert (
        manifest_read(spark, table_path).count() == 30000
    )
    agg = (
        manifest_read(spark, table_path)
        .agg(F.sum(F.crc32(F.col("payload"))).alias("h"))
        .collect()[0]["h"]
    )
    agg0 = df.agg(F.sum(F.crc32(F.col("payload"))).alias("h")).collect()[0][
        "h"
    ]
    assert agg == agg0

    # default re-compaction collapses back to one file
    manifest_compact(spark, table_path)
    assert len(_latest_manifest(table_path)[1]["files"]["d0"]) == 1
