"""File-level stats, data skipping, and Z-order clustering
(sources/skipping.py) — the zone-map half of the manifest table protocol.

Pins: (1) bucketize is an exact equi-depth binary search; (2) z-ordering
narrows per-file ranges in EVERY clustered dimension, so a box predicate
on either column prunes most files — while a linear sort only prunes its
leading column; (3) skipping never changes results (files without stats
are kept; partial overlaps fall through to the row filter); (4) stats
survive upserts on untouched partitions and only new directories are
re-scanned.
"""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from data_management_service_run_etl_imputations_spark.sources.sinks import (
    _latest_manifest,
    manifest_read,
    manifest_upsert_partitioned,
)
from data_management_service_run_etl_imputations_spark.sources.skipping import (
    bucketize,
    manifest_cluster_zorder,
    manifest_collect_stats,
    manifest_read_skipping,
    manifest_skipping_plan,
    with_zorder,
)


@pytest.fixture()
def table(spark, tmp_path):
    """A 4-partition manifest table with two independent uniform columns —
    the worst case for linear sort, the motivating case for Z-order."""
    path = str(tmp_path / "ztab")
    df = spark.range(8000).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 4).cast("string").alias("p"),
        # independent pseudo-uniform dimensions (deterministic, no rand())
        ((F.col("id") * 2654435761) % 10000).alias("a"),
        ((F.col("id") * 40503 + 7919) % 10000).alias("b"),
    )
    manifest_upsert_partitioned(df, path, ["row_id"], "p")
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_bucketize_exact_binary_search(spark):
    df = spark.range(100).select(F.col("id").cast("double").alias("v"))
    # boundaries 24.0, 49.0, 74.0 -> buckets [0..24], (24..49], (49..74], rest
    out = df.select(
        "v", bucketize(F.col("v"), [24.0, 49.0, 74.0]).alias("bkt")
    ).collect()
    for r in out:
        expect = sum(1 for b in [24.0, 49.0, 74.0] if r.v > b)
        assert r.bkt == expect, (r.v, r.bkt, expect)


def test_bucketize_null_and_empty(spark):
    df = spark.createDataFrame([(None,), (5.0,)], "v double")
    rows = {r.v: r.bkt for r in df.select(
        "v", bucketize(F.col("v"), [10.0]).alias("bkt")
    ).collect()}
    assert rows[5.0] == 0 and rows[None] == 0
    assert df.select(bucketize(F.col("v"), []).alias("b")).first().b == 0


def test_with_zorder_equidepth_under_skew(spark):
    # heavily skewed column: equi-depth buckets stay balanced where a
    # min/max linear scaling would put ~all rows in bucket 0
    df = spark.range(4096).select(
        (F.col("id") * F.col("id") * F.col("id")).cast("double").alias("a"),
    )
    # single column: the z-value IS the equi-depth bucket id (0..15)
    z = with_zorder(df, ["a"], bits_per_col=4)
    counts = [
        r.n
        for r in z.groupBy("__z").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    assert len(counts) >= 12  # skew didn't collapse the bucket space
    assert max(counts) <= 3 * (4096 // 16)


def test_zorder_prunes_both_dimensions(spark, table):
    stats = manifest_cluster_zorder(
        spark, table, ["a", "b"], files_per_partition=16
    )
    assert stats["partitions"] == 4 and stats["files"] >= 32
    for ranges in ({"a": (0, 999)}, {"b": (4000, 4999)}):
        kept, n_kept, n_total, _ = manifest_skipping_plan(table, ranges)
        # a 10%-selectivity box on EITHER dimension must prune >=half the
        # files — the property a linear sort cannot give on its 2nd column
        assert n_total >= 16 and n_kept <= n_total // 2, (ranges, n_kept, n_total)


def test_skipping_results_identical_to_full_filter(spark, table):
    manifest_cluster_zorder(spark, table, ["a", "b"], files_per_partition=8)
    ranges = {"a": (1000, 3999), "b": (2000, 8999)}
    skipped = manifest_read_skipping(spark, table, ranges)
    full = manifest_read(spark, table).filter(
        F.col("a").between(1000, 3999) & F.col("b").between(2000, 8999)
    )
    a = sorted(r.row_id for r in skipped.select("row_id").collect())
    b = sorted(r.row_id for r in full.select("row_id").collect())
    assert a == b and len(a) > 0


def test_skipping_without_stats_keeps_all_files(spark, table):
    kept, n_kept, n_total, _ = manifest_skipping_plan(table, {"a": (0, 10)})
    assert n_kept == n_total  # no stats yet -> nothing provably droppable
    out = manifest_read_skipping(spark, table, {"a": (0, 10)})
    oracle = manifest_read(spark, table).filter(F.col("a") <= 10).count()
    assert out.count() == oracle


def test_collect_stats_incremental_skips_covered_dirs(spark, table):
    first = manifest_collect_stats(spark, table, ["a", "b"])
    assert first["directories"] == 4 and first["files"] > 0
    again = manifest_collect_stats(spark, table, ["a", "b"])
    assert again == {"files": 0, "directories": 0}  # immutable dirs covered
    # upsert touching ONE partition: the WRITE PATH already covered the
    # new directory's files (footer stats merged into the commit), so
    # the incremental ANALYZE has nothing to scan
    batch = spark.createDataFrame(
        [(90001, "2", 5, 5)], "row_id long, p string, a long, b long"
    )
    manifest_upsert_partitioned(batch, table, ["row_id"], "p")
    after = manifest_collect_stats(spark, table, ["a", "b"])
    assert after == {"files": 0, "directories": 0}
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        _load_stats_sidecar,
    )

    _, content = _latest_manifest(table)
    stats = _load_stats_sidecar(table, content)
    live = {e[0] for fs in content["files"].values() for e in fs}
    assert live <= set(stats), "every live file covered post-upsert"


def test_stats_match_actual_minmax(spark, table):
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        _load_stats_sidecar,
    )

    manifest_collect_stats(spark, table, ["a"])
    _, content = _latest_manifest(table)
    stats = _load_stats_sidecar(table, content)
    assert stats
    for frel, s in stats.items():
        actual = (
            spark.read.parquet(f"{table}/{frel}")
            .agg(F.min("a"), F.max("a"), F.count(F.lit(1)))
            .first()
        )
        assert s["cols"]["a"]["min"] == actual[0]
        assert s["cols"]["a"]["max"] == actual[1]
        assert s["rows"] == actual[2]


def test_stats_and_data_commit_atomically(spark, table):
    import os

    v_before, _ = _latest_manifest(table)
    manifest_cluster_zorder(spark, table, ["a"], files_per_partition=4)
    v_after, content = _latest_manifest(table)
    assert v_after == v_before + 1  # clustering + stats = ONE new version
    with open(f"{table}/_commits/{v_after}.json") as f:
        raw = f.read()
    # index bytes live in the referenced sidecar, committed with the data
    # (the raw commit payload — full snapshot or delta — carries only the
    # reference, never inline stats/bloom bitsets)
    assert content["stats_ref"] and content["stats_cols"] == ["a"]
    assert os.path.isfile(f"{table}/{content['stats_ref']}")
    on_disk = json.loads(raw)
    assert "stats" not in on_disk and "bloom" not in on_disk
    assert '"stats":' not in raw and '"bloom":' not in raw
    # time travel: the pre-clustering version still reads the same content
    old = manifest_read(spark, table, version=v_before)
    assert old.count() == 8000


# --- bloom index (point-lookup skipping) -----------------------------------


def test_bloom_prunes_point_lookup(spark, table):
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_point_plan,
        manifest_read_point,
    )

    # fragment into many files so there is something to skip
    manifest_cluster_zorder(spark, table, ["a"], files_per_partition=16)
    built = manifest_collect_bloom(spark, table, "row_id", bits=8192, k=4)
    assert built["files"] >= 32 and built["directories"] == 4
    hits = misses = 0
    for key in (17, 4242, 7999):
        kept, n_kept, n_total, _ = manifest_point_plan(spark, table, "row_id", key)
        hits += n_kept
        misses += n_total - n_kept
        # ~125 rows/file at 10 bits/row: the true file plus rare fps
        assert n_kept <= max(4, n_total // 8), (key, n_kept, n_total)
        got = manifest_read_point(spark, table, "row_id", key).collect()
        assert len(got) == 1 and got[0].row_id == key
    assert misses > hits  # the index actually skipped most files


def test_bloom_no_false_negatives_exhaustive(spark, table):
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_read_point,
    )

    manifest_collect_bloom(spark, table, "row_id", bits=4096, k=3)
    # every key must be found through the index (bloom guarantees no FN)
    sampled = list(range(0, 8000, 997))
    for key in sampled:
        assert manifest_read_point(spark, table, "row_id", key).count() == 1
    # absent key: zero rows, regardless of fp-driven extra file reads
    assert manifest_read_point(spark, table, "row_id", 999999).count() == 0


def test_bloom_survives_upsert_and_refreshes_incrementally(spark, table):
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_read_point,
    )

    first = manifest_collect_bloom(spark, table, "row_id", bits=8192, k=4)
    assert first["directories"] == 4
    batch = spark.createDataFrame(
        [(90001, "1", 7, 7)], "row_id long, p string, a long, b long"
    )
    manifest_upsert_partitioned(batch, table, ["row_id"], "p")
    # untouched partitions keep their index; only partition "1" re-scans
    again = manifest_collect_bloom(spark, table, "row_id", bits=8192, k=4)
    assert again["directories"] == 1
    assert manifest_read_point(spark, table, "row_id", 90001).count() == 1
    assert manifest_read_point(spark, table, "row_id", 17).count() == 1


# --- file-granular manifests, sidecars, and probe hardening (round 5) ------


def test_stray_file_in_data_dir_is_invisible(spark, table):
    """Reads plan from the manifest's commit-time file list, never a
    directory listing: a stray file planted inside a live data directory
    (a crashed writer's debris, an eventually-consistent LIST artifact)
    must not change any read, skipping, point, or stats path."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_read_point,
    )

    manifest_collect_stats(spark, table, ["a"])
    manifest_collect_bloom(spark, table, "row_id", bits=4096, k=3)
    before = manifest_read(spark, table).count()

    # plant a VALID parquet file with bogus rows inside a live partition dir
    _, content = _latest_manifest(table)
    rel = sorted(content["partitions"].values())[0]
    spark.createDataFrame(
        [(999999, "0", 1, 1)], "row_id long, p string, a long, b long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{table}/{rel}_stray_tmp")
    import glob as _g
    import shutil as _sh

    src = _g.glob(f"{table}/{rel}_stray_tmp/*.parquet")[0]
    _sh.copy(src, f"{table}/{rel}/zzz_stray.parquet")
    _sh.rmtree(f"{table}/{rel}_stray_tmp")

    assert manifest_read(spark, table).count() == before
    assert manifest_read(spark, table).filter(F.col("row_id") == 999999).count() == 0
    assert manifest_read_skipping(spark, table, {"a": (0, 10000)}).filter(
        F.col("row_id") == 999999
    ).count() == 0
    assert manifest_read_point(spark, table, "row_id", 999999).count() == 0
    # incremental stats see nothing new either (coverage from the manifest)
    assert manifest_collect_stats(spark, table, ["a"]) == {
        "files": 0,
        "directories": 0,
    }


def test_manifest_json_stays_small_with_big_bloom(spark, tmp_path):
    """The manifest JSON is O(partitions + files): building a WIDE bloom
    index (64k bits/file) must not grow it — index bytes live in the
    parquet sidecar. Bound: < 200 bytes per file entry regardless of
    index width."""
    import os

    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
    )

    path = str(tmp_path / "smalltab")
    df = spark.range(20000).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 4).cast("string").alias("p"),
        (F.col("id") % 997).alias("a"),
    )
    manifest_upsert_partitioned(df, path, ["row_id"], "p")
    manifest_cluster_zorder(spark, path, ["a"], files_per_partition=32)
    _, content = _latest_manifest(path)
    n_files = sum(len(v) for v in content["files"].values())
    assert n_files >= 64

    v0 = max(
        int(n[:-5])
        for n in os.listdir(f"{path}/_commits")
        if n.endswith(".json")
    )
    size_before = os.path.getsize(f"{path}/_commits/{v0}.json")
    manifest_collect_bloom(spark, path, "row_id", bits=65536, k=6)
    v1, _ = _latest_manifest(path)
    size_after = os.path.getsize(f"{path}/_commits/{v1}.json")
    # inline bitsets would add ~8KB/file (64k bits); the ref adds ~50 bytes
    assert size_after - size_before < 500
    assert size_after < 200 * n_files + 4096


def test_collect_stats_new_column_rescans_and_merges(spark, table):
    """ADVICE fix: ANALYZE for a NEW column over already-covered
    directories must actually scan them (per-file column coverage, not
    directory presence) and MERGE the fresh per-column stats into the
    existing entries."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        _load_stats_sidecar,
    )

    first = manifest_collect_stats(spark, table, ["a"])
    assert first["directories"] == 4
    # new column over the same (covered) dirs: must re-scan, not no-op
    second = manifest_collect_stats(spark, table, ["b"])
    assert second["directories"] == 4 and second["files"] == first["files"]
    _, content = _latest_manifest(table)
    stats = _load_stats_sidecar(table, content)
    for s in stats.values():
        assert set(s["cols"]) == {"a", "b"}  # merged, not replaced
    # both columns now prune
    for ranges in ({"a": (0, 999)}, {"b": (0, 999)}):
        _, n_kept, n_total, _ = manifest_skipping_plan(table, ranges)
        assert n_total > 0  # sanity; pruning quality covered elsewhere


def test_all_null_file_survives_unbounded_range(spark, tmp_path):
    """ADVICE fix: a (None, None) range adds no row predicate, so an
    all-NULL file must NOT be dropped for it — rows would silently
    vanish. A real bound still prunes the all-NULL file."""
    path = str(tmp_path / "nulltab")
    df = spark.createDataFrame(
        [(1, "d1", None), (2, "d1", None), (3, "d2", 5)],
        "k long, p string, a long",
    )
    manifest_upsert_partitioned(df, path, ["k"], "p")
    manifest_collect_stats(spark, path, ["a"])
    # unbounded probe: every row survives, including the NULL ones
    out = manifest_read_skipping(spark, path, {"a": (None, None)})
    assert out.count() == 3
    # bounded probe: the all-NULL file is provably unmatchable
    kept, n_kept, n_total, _ = manifest_skipping_plan(path, {"a": (0, 100)})
    assert n_kept < n_total
    assert manifest_read_skipping(spark, path, {"a": (0, 100)}).count() == 1


def test_date_typed_skipping_prunes(spark, tmp_path):
    """Temporal skipping: date-typed stats serialize as ISO strings and a
    date-typed bound canonicalizes into the same domain — files outside
    the window are pruned, results match a plain filter."""
    import datetime

    path = str(tmp_path / "datetab")
    df = spark.range(300).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("p"),
        F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
    )
    manifest_upsert_partitioned(df, path, ["k"], "p")
    manifest_collect_stats(spark, path, ["d"])
    lo, hi = datetime.date(2024, 2, 1), datetime.date(2024, 2, 10)
    kept, n_kept, n_total, _ = manifest_skipping_plan(path, {"d": (lo, hi)})
    assert n_kept < n_total  # stats actually prune on the date domain
    got = manifest_read_skipping(spark, path, {"d": (lo, hi)}).count()
    oracle = (
        manifest_read(spark, path)
        .filter(F.col("d").between(F.lit(lo), F.lit(hi)))
        .count()
    )
    assert got == oracle > 0


def test_mixed_type_probe_rejected(spark, tmp_path):
    """A probe in the wrong domain (numeric bound against string/date
    stats) raises loudly instead of comparing across domains."""
    path = str(tmp_path / "mixtab")
    df = spark.createDataFrame(
        [(1, "d1", "apple"), (2, "d2", "pear")], "k long, p string, s string"
    )
    manifest_upsert_partitioned(df, path, ["k"], "p")
    manifest_collect_stats(spark, path, ["s"])
    with pytest.raises(TypeError, match="mixed-type"):
        manifest_skipping_plan(path, {"s": (1, 100)})


def test_bloom_probe_matches_per_file_dtype(spark, tmp_path):
    """ADVICE fix: files indexed before a column's type evolved keep
    matching — the probe hashes under each file's RECORDED dtype, so an
    int-built file and a bigint-built file both answer correctly (bloom's
    no-false-negative invariant survives schema evolution)."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_read_point,
    )

    path = str(tmp_path / "dtytab")
    old = spark.createDataFrame(
        [(1, "d1", 17), (2, "d1", 18)], "k long, p string, key int"
    )
    manifest_upsert_partitioned(old, path, ["k"], "p")
    manifest_collect_bloom(spark, path, "key", bits=1024, k=3)

    # column type evolves: new partition writes key as bigint
    new = spark.createDataFrame(
        [(3, "d2", 4000000017)], "k long, p string, key long"
    )
    manifest_upsert_partitioned(new, path, ["k"], "p")
    manifest_collect_bloom(spark, path, "key", bits=1024, k=3)

    # keys from BOTH generations are found through the index
    assert manifest_read_point(spark, path, "key", 17).count() == 1
    assert manifest_read_point(spark, path, "key", 4000000017).count() == 1
    assert manifest_read_point(spark, path, "key", 999).count() == 0


def test_bloom_first_build_spans_type_evolution(spark, tmp_path):
    """Code-review regression: the FIRST bloom build over a backlog that
    spans a column type evolution (int partition + bigint partition) must
    not crash on footer-schema mismatch — the merged read covers every
    generation and keys from both are found."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
        manifest_read_point,
    )

    path = str(tmp_path / "evotab")
    manifest_upsert_partitioned(
        spark.createDataFrame([(1, "d1", 17)], "k long, p string, key int"),
        path,
        ["k"],
        "p",
    )
    manifest_upsert_partitioned(
        spark.createDataFrame(
            [(2, "d2", 4000000017)], "k long, p string, key long"
        ),
        path,
        ["k"],
        "p",
    )
    # first-ever build sees BOTH generations in one backlog
    built = manifest_collect_bloom(spark, path, "key", bits=1024, k=3)
    assert built["directories"] == 2
    assert manifest_read_point(spark, path, "key", 17).count() == 1
    assert manifest_read_point(spark, path, "key", 4000000017).count() == 1


def test_noop_analyze_publishes_no_version(spark, table):
    """A covered ANALYZE (stats or bloom) is a true no-op: no new manifest
    version, no sidecar rewrite."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_bloom,
    )

    manifest_collect_stats(spark, table, ["a"])
    manifest_collect_bloom(spark, table, "row_id", bits=4096, k=3)
    v0, _ = _latest_manifest(table)
    assert manifest_collect_stats(spark, table, ["a"]) == {
        "files": 0,
        "directories": 0,
    }
    assert manifest_collect_bloom(spark, table, "row_id", bits=4096, k=3) == {
        "files": 0,
        "directories": 0,
    }
    v1, _ = _latest_manifest(table)
    assert v1 == v0


def test_zorder_on_date_and_string_dimensions(spark, tmp_path):
    """Typed z-order: DATE and STRING clustering keys must actually
    cluster (a plain double cast nulls them out — every row would land in
    bucket 0 and skipping on that dimension would keep every file). A
    10%-selectivity box on EITHER the date or the string dimension prunes
    at least half the files, and the skipping read stays result-identical
    to the full filter."""
    path = str(tmp_path / "dstab")
    df = spark.range(8000).select(
        F.col("id").alias("row_id"),
        (F.col("id") % 2).cast("string").alias("p"),
        # pseudo-uniform date over ~500 days and host over 1000 names,
        # mutually independent, deterministic
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            ((F.col("id") * 2654435761) % 500).cast("int"),
        ).alias("event_date"),
        F.format_string(
            "host-%04d", ((F.col("id") * 40503 + 7919) % 1000).cast("int")
        ).alias("host"),
    )
    manifest_upsert_partitioned(df, path, ["row_id"], "p")
    stats = manifest_cluster_zorder(
        spark, path, ["event_date", "host"], files_per_partition=16
    )
    assert stats["partitions"] == 2 and stats["files"] >= 16

    import datetime

    date_box = {
        "event_date": (datetime.date(2024, 2, 1), datetime.date(2024, 3, 21))
    }
    host_box = {"host": ("host-0100", "host-0199")}
    for ranges in (date_box, host_box):
        kept, n_kept, n_total, _ = manifest_skipping_plan(path, ranges)
        assert n_total >= 16 and n_kept <= n_total // 2, (
            ranges,
            n_kept,
            n_total,
        )

    got = manifest_read_skipping(spark, path, host_box)
    full = manifest_read(spark, path).filter(
        F.col("host").between("host-0100", "host-0199")
    )
    a = sorted(r.row_id for r in got.select("row_id").collect())
    b = sorted(r.row_id for r in full.select("row_id").collect())
    assert a == b and len(a) > 0
    shutil.rmtree(path, ignore_errors=True)


def test_string_boundaries_equidepth_under_skew(spark):
    """Sampled string cut points are ROW-uniform: a hot value owns its
    row share of buckets, so the remaining values still spread instead of
    collapsing into one bucket (the property a distinct-value sample
    would lose)."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        _sampled_boundaries,
    )

    # 70% of rows are "mmm", the rest uniform over 260 values
    df = spark.range(10000).select(
        F.when(F.col("id") % 10 < 7, F.lit("mmm"))
        .otherwise(
            F.format_string("v-%03d", (F.col("id") % 260).cast("int"))
        )
        .alias("s")
    )
    cuts = _sampled_boundaries(df, "s", 16)
    assert len(cuts) == 15
    # the hot value occupies ~70% of the cut list (its row share)
    hot = sum(1 for c in cuts if c == "mmm")
    assert 8 <= hot <= 13, cuts
    # and the tail still gets multiple distinct cut points
    assert len({c for c in cuts if c != "mmm"}) >= 3


def test_manifest_minmax_metadata_only(spark, table):
    """MIN/MAX from the zone-map sidecar alone: matches a real aggregate,
    raises loudly when stats are missing for a live file, and refuses
    under pending merge-on-read deletes (a masked row could hold the
    extremum)."""
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_minmax,
    )

    with pytest.raises(ValueError, match="no stats"):
        manifest_minmax(table, ["a"])

    manifest_collect_stats(spark, table, ["a", "b"])
    got = manifest_minmax(table, ["a", "b"])
    actual = (
        manifest_read(spark, table)
        .agg(F.min("a"), F.max("a"), F.min("b"), F.max("b"))
        .first()
    )
    assert got["a"] == (float(actual[0]), float(actual[1]))
    assert got["b"] == (float(actual[2]), float(actual[3]))

    # write-path maintenance: an upsert into a stats-maintained table
    # covers its own output files in the same commit (footer stats), so
    # metadata MIN/MAX stays answerable with the fresh extremum — no
    # interim ANALYZE, no stale window
    batch = spark.createDataFrame(
        [(90002, "1", -5, 20002)], "row_id long, p string, a long, b long"
    )
    manifest_upsert_partitioned(batch, table, ["row_id"], "p")
    got2 = manifest_minmax(table, ["a", "b"])
    assert got2["a"][0] == -5.0 and got2["b"][1] == 20002.0
    # and the incremental ANALYZE agrees there is nothing left to cover
    assert manifest_collect_stats(spark, table, ["a", "b"]) == {
        "files": 0,
        "directories": 0,
    }

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_delete,
    )

    manifest_delete(
        spark.createDataFrame([(90002,)], "row_id long"), table, ["row_id"]
    )
    with pytest.raises(ValueError, match="deletes"):
        manifest_minmax(table, ["a"])


def test_compact_min_files_targets_fragmented_partitions(spark, table):
    """Fragmentation-aware OPTIMIZE: with min_files, only partitions whose
    manifest-recorded file count crossed the threshold are rewritten —
    the others' directory entries (and data) are untouched."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_compact,
    )

    # fragment everything, then compact fully: every partition at 1 file
    manifest_cluster_zorder(spark, table, ["a"], files_per_partition=8)
    manifest_compact(spark, table)
    _, content = _latest_manifest(table)
    assert all(len(v) == 1 for v in content["files"].values())

    # one partition drifts to 2 files via an upsert
    batch = spark.createDataFrame(
        [(90010, "3", 1, 1)], "row_id long, p string, a long, b long"
    )
    manifest_upsert_partitioned(batch, table, ["row_id"], "p")
    _, before = _latest_manifest(table)
    frag = {k for k, v in before["files"].items() if len(v) >= 2}
    assert frag == {"3"}

    r = manifest_compact(spark, table, min_files=2)
    assert r["partitions"] == 1 and r["files_before"] >= 2
    _, after = _latest_manifest(table)
    # untouched partitions keep their exact directory entries
    for k in before["partitions"]:
        if k not in frag:
            assert after["partitions"][k] == before["partitions"][k]
    assert len(after["files"]["3"]) == 1
    assert manifest_read(spark, table).count() == 8001


def test_footer_stats_match_scan_stats(spark, tmp_path):
    """ANALYZE from parquet FOOTERS (O(files) metadata reads) must record
    the same sidecar as the data scan across int, double, string, date,
    timestamp, and bool columns — including an all-NULL file and a column
    added by schema evolution (absent from older files ⇒ all-NULL stats).
    String entries additionally carry approx=True (possibly-truncated
    writer bounds — sound for skipping, not for MIN/MAX)."""
    import datetime as dt

    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        _load_stats_sidecar,
    )

    def build(path):
        rows = [
            (
                i,
                str(i % 2),
                None if i == 7 else i * 3,
                float(i) / 4,
                None if i % 5 == 0 else f"s{i:03d}",
                dt.date(2021, 1, 1) + dt.timedelta(days=i),
                dt.datetime(2022, 3, 1, 12, 0, 0) + dt.timedelta(hours=i),
                i % 3 == 0,
            )
            for i in range(40)
        ]
        df = spark.createDataFrame(
            rows,
            "row_id long, p string, a long, d double, s string, "
            "dte date, ts timestamp, flag boolean",
        )
        manifest_upsert_partitioned(df, path, ["row_id"], "p")
        # all-NULL batch for column a in partition "0"
        extra = spark.createDataFrame(
            [
                (
                    100 + i,
                    "0",
                    None,
                    1.5,
                    "zz",
                    dt.date(2021, 6, 1),
                    dt.datetime(2022, 6, 1),
                    False,
                )
                for i in range(3)
            ],
            "row_id long, p string, a long, d double, s string, "
            "dte date, ts timestamp, flag boolean",
        )
        manifest_upsert_partitioned(extra, path, ["row_id"], "p")
        # schema evolution: a new column only the newest file carries
        newer = spark.createDataFrame(
            [
                (
                    200,
                    "1",
                    9,
                    2.5,
                    "aa",
                    dt.date(2021, 7, 1),
                    dt.datetime(2022, 7, 1),
                    True,
                    77,
                )
            ],
            "row_id long, p string, a long, d double, s string, "
            "dte date, ts timestamp, flag boolean, extra long",
        )
        manifest_upsert_partitioned(newer, path, ["row_id"], "p")
        return path

    cols = ["a", "d", "s", "dte", "ts", "flag", "extra"]
    p_scan = build(str(tmp_path / "scan_tab"))
    p_foot = build(str(tmp_path / "foot_tab"))
    manifest_collect_stats(spark, p_scan, cols, source="scan")
    # strict footer mode: every file must be coverable from metadata alone
    manifest_collect_stats(spark, p_foot, cols, source="footer")

    _, c_scan = _latest_manifest(p_scan)
    _, c_foot = _latest_manifest(p_foot)
    s_scan = _load_stats_sidecar(p_scan, c_scan)
    s_foot = _load_stats_sidecar(p_foot, c_foot)
    assert len(s_scan) == len(s_foot) > 0

    # stage paths are random per table: compare the per-file entries as
    # canonical multisets (identical builds => identical file contents)
    def canon_entries(stats, expect_approx):
        out = []
        saw_approx = False
        for frel, s in stats.items():
            entry = {"rows": s["rows"], "cols": {}}
            for c in cols:
                cs = dict(s["cols"][c])
                if cs.pop("approx", False):
                    assert expect_approx and c == "s", (frel, c)
                    saw_approx = True
                entry["cols"][c] = cs
            out.append(json.dumps(entry, sort_keys=True))
        assert saw_approx == expect_approx
        return sorted(out)

    assert canon_entries(s_scan, False) == canon_entries(s_foot, True)


def test_footer_source_refuses_decimals_and_minmax_refuses_approx(
    spark, tmp_path
):
    """Decimal columns stay on the scan path (which owns the
    outward-rounded widening): source='footer' raises, source='auto'
    falls back to scanning and records exact decimal stats. And
    manifest_minmax refuses footer-derived (approx) string stats while
    range skipping still prunes with them."""
    from decimal import Decimal

    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_minmax,
    )

    path = str(tmp_path / "dectab")
    df = spark.createDataFrame(
        [
            (i, str(i % 2), Decimal(i) / 4, f"v{i:02d}")
            for i in range(20)
        ],
        "row_id long, p string, dec decimal(12,4), s string",
    )
    manifest_upsert_partitioned(df, path, ["row_id"], "p")

    with pytest.raises(ValueError, match="footer"):
        manifest_collect_stats(spark, path, ["dec"], source="footer")
    # s first (footer-sourced, approx); dec after (scan fallback merges
    # ONLY the dec stats into the entries, leaving s footer-sourced)
    manifest_collect_stats(spark, path, ["s"], source="auto")
    manifest_collect_stats(spark, path, ["dec"], source="auto")

    got = manifest_minmax(path, ["dec"])
    assert got["dec"] == (0.0, 4.75)
    with pytest.raises(ValueError, match="footer-derived"):
        manifest_minmax(path, ["s"])

    # approx string bounds still prune: probe a range past every max
    kept, n_kept, n_total, _ = manifest_skipping_plan(
        path, {"s": ("w", None)}
    )
    assert n_total > 0 and n_kept == 0
    assert (
        manifest_read_skipping(spark, path, {"s": ("v05", "v07")}).count()
        == 3
    )


def test_zorder_target_file_mb_sizes_the_range_count(spark, tmp_path):
    """Size-bounded z-ordering: target_file_mb derives the z-range count
    from the manifest's recorded bytes instead of a fixed per-partition
    count — content identical, file count tracks data volume."""
    import math

    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _latest_manifest,
        manifest_read,
        manifest_upsert_partitioned,
    )
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_cluster_zorder,
    )

    df = spark.range(30000).select(
        F.col("id").alias("k"),
        F.lit("d0").alias("day"),
        F.sha2(F.col("id").cast("string"), 512).alias("payload"),
    )
    table_path = str(tmp_path / "ztgt")
    manifest_upsert_partitioned(df, table_path, ["k"], "day")
    content = _latest_manifest(table_path)[1]
    nbytes = sum(e[1] for e in content["files"]["d0"])
    assert nbytes > 2 * (1 << 20)

    r = manifest_cluster_zorder(
        spark, table_path, ["k"], target_file_mb=1
    )
    want = math.ceil(nbytes / (1 << 20))
    assert 1 < r["files"] <= want, (r, want)
    assert manifest_read(spark, table_path).count() == 30000


def test_compact_keeps_index_sidecars_warm(spark, tmp_path):
    """Compaction refreshes zone-map stats (footer path) and bloom
    bitsets for its output files in the SAME commit: skipping and point
    probes keep pruning right after a maintenance pass, no interim
    ANALYZE required."""
    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _latest_manifest,
        manifest_compact,
        manifest_read,
        manifest_upsert_partitioned,
    )
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        _load_bloom_sidecar,
        _load_stats_sidecar,
        manifest_collect_bloom,
        manifest_collect_stats,
        manifest_point_plan,
        manifest_skipping_plan,
    )

    path = str(tmp_path / "warm")
    # 4 partitions, 2 fragments each, disjoint k ranges per partition
    for lo in (0, 1):
        df = spark.range(lo * 1000, 8000, 2).select(
            F.col("id").alias("k"),
            F.concat(F.lit("d"), (F.col("id") / 2000).cast("int").cast("string")).alias("day"),
            (F.col("id") * 1.5).alias("v"),
        )
        manifest_upsert_partitioned(df, path, ["k"], "day")
    manifest_collect_stats(spark, path, ["k"])
    manifest_collect_bloom(spark, path, "k", bits=65536, k=4)

    r = manifest_compact(spark, path, target_file_mb=None)
    assert r["partitions"] == 4 and r["files_after"] == 4

    content = _latest_manifest(path)[1]
    new_rels = {e[0] for fs in content["files"].values() for e in fs}
    stats = _load_stats_sidecar(path, content)
    assert new_rels <= set(stats), "stats must cover every compacted file"
    bloom = _load_bloom_sidecar(path, content)["k"]
    assert new_rels <= set(bloom["files"]), "bloom must cover every file"
    # stale entries for the replaced fragments are gone
    assert len(stats) == len(new_rels)
    assert len(bloom["files"]) == len(new_rels)

    # and pruning ENGAGES: a one-partition k range opens 1 of 4 files,
    # a point probe blooms down to its single holding file
    kept, n_kept, n_total, _ = manifest_skipping_plan(path, {"k": (100, 200)})
    assert n_total == 4 and n_kept == 1, (n_kept, n_total)
    kept_b, _, _, _ = manifest_point_plan(spark, path, "k", 3000)
    # k=3000 lives in d1; the rebuilt bloom must keep its holding file
    # and prune (false positives allowed, misses never)
    assert any("__p=d1" in rel for rel in kept_b), kept_b
    assert len(kept_b) < 4, kept_b
    assert manifest_read(spark, path).count() == 4000

    # refresh_indexes=False keeps the old (now-stale-harmless) sidecar
    manifest_compact(spark, path, refresh_indexes=False)
    content2 = _latest_manifest(path)[1]
    assert content2["stats_ref"] == content["stats_ref"]


def test_replace_partitions_covers_files_on_stats_table(spark, tmp_path):
    """replace-partitions on a stats-maintained table covers its staged
    files in the same commit — metadata MIN/MAX stays answerable with
    the replaced extremum, no interim ANALYZE."""
    from pyspark.sql import functions as F

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        manifest_replace_partitions,
        manifest_upsert_partitioned,
    )
    from data_management_service_run_etl_imputations_spark.sources.skipping import (
        manifest_collect_stats,
        manifest_minmax,
    )

    path = str(tmp_path / "repl")
    df = spark.range(100).select(
        F.col("id").alias("k"),
        F.when(F.col("id") < 50, "d0").otherwise("d1").alias("day"),
        (F.col("id") * 1.0).alias("v"),
    )
    manifest_upsert_partitioned(df, path, ["k"], "day")
    manifest_collect_stats(spark, path, ["k", "v"])
    assert manifest_minmax(path, ["v"])["v"] == (0.0, 99.0)

    manifest_replace_partitions(
        spark.createDataFrame(
            [(1000, "d1", -7.0)], "k LONG, day STRING, v DOUBLE"
        ),
        path,
        "day",
        ["d1"],
    )
    got = manifest_minmax(path, ["v", "k"])
    assert got["v"] == (-7.0, 49.0)
    assert got["k"] == (0.0, 1000.0)
    assert manifest_collect_stats(spark, path, ["k", "v"]) == {
        "files": 0,
        "directories": 0,
    }
