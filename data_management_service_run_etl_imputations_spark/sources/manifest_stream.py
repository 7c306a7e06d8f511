"""Structured-Streaming SOURCE over the manifest table's commit log
(Spark 4 Python streaming DataSource API) — the ``readStream`` half of
the table protocol, mirroring Delta's streaming source design.

Offsets ARE manifest versions: the stream's offset ``{"version": N}``
means "every file added by commits ≤ N has been emitted". Each
micro-batch reads exactly the parquet files ADDED between the start and
end versions (computed driver-side from the immutable commit log — zero
filesystem listing), one InputPartition per file, Arrow record batches
straight from the parquet footer on executors. Because manifests and
data files are immutable, replaying an offset range after a crash
re-reads byte-identical data — offsets checkpoint like any built-in
source and the feed is exactly-once end-to-end.

Semantics (the same contract Delta's streaming source ships with):

- **Append-driven.** A commit's contribution is the files it ADDED.
  File-granular copy-on-write keeps this tight: an upsert/merge re-adds
  only the files it actually REWROTE (those holding matched keys), so
  survivor rows re-emit only from genuinely rewritten files (Delta's
  ``ignoreChanges`` caveat, scoped and documented rather than hidden);
  insert-only workloads — the reference's S7 semantics
  (``function_app.py:305-312``) — emit each row exactly once, even
  into partitions that already hold other keys' files. Row-level
  deletes do not emit (use ``manifest_diff`` for a full delete-aware
  change feed in batch).
- **Schema.** The stream schema is the table schema at query start plus
  ``_commit_version long``; files written before a column was added
  emit NULL for it (schema-group alignment, same as batch reads).
- **Vacuum interplay.** Vacuuming a version whose files the stream has
  not yet processed fails the query loudly (missing file), never
  silently skips — retain at least the streaming lag
  (``manifest_vacuum(retain_seconds=...)``).
- **Admission control.** ``.option("max_files_per_trigger", N)``
  (Delta's maxFilesPerTrigger) bounds how many data files one
  micro-batch may read: latestOffset advances whole versions from the
  rate-limit floor until the file budget is spent (always ≥1 version,
  so the stream cannot stall). A fresh backfill of a huge table arrives
  as many bounded batches instead of one giant one; catch-up after
  downtime is chunked the same way. Restart-safe: Spark re-plans the
  last logged batch through ``partitions()`` before the first
  ``latestOffset``, so the floor is the checkpointed offset and capped
  offsets never regress the log (pinned by test). Not meaningful with
  ``availableNow`` (Spark captures the target offset once, before the
  floor exists); use the default or processing-time triggers.

**CDF mode** (``.option("mode", "cdf")``) is the DELETE-AWARE change
feed (Delta's Change Data Feed): each micro-batch emits the exact CHANGE
ROWS between consecutive versions — ``_change_type`` ∈ ``insert`` /
``update_post`` / ``delete`` plus ``_commit_version`` — computed from
the immutable commit log:

- Planning (driver side, pure metadata): per version, the partitions
  whose FILE LISTS differ (plus delete-entry deltas) yield one input
  partition each, carrying only the files present on exactly one side —
  files shared by both versions cancel by immutability and are never
  read (file-granular merges make this set small by construction).
- Execution (executor side, Arrow): each partition reads its two file
  sets, applies each version's pending merge-on-read deletes, and takes
  the multiset difference; a removed and an added row sharing the
  commit's recorded merge key pair into one ``update_post`` event
  (pre-images are suppressed), unmatched added rows are ``insert``,
  unmatched removed rows are ``delete`` — so MoR deletes and partition
  rewrites surface as real change rows, the gap the append-driven mode
  documents.
- Content-identical maintenance commits (compact, Z-order, analyze,
  constraints) are skipped at plan time — zero I/O.

Usage::

    spark.dataSource.register(ManifestFeedDataSource)
    stream = (spark.readStream.format("manifest_feed")
              .option("path", table_root)
              .option("start_version", 0)   # 0 = backfill (default)
              .option("mode", "cdf")        # default: "append"
              .load())
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

VERSION_COL = "_commit_version"
CHANGE_COL = "_change_type"

# commits whose content is identical (or metadata-only) by protocol
# contract: the CDF planner skips them without reading a byte
_CDF_SKIP_OPS = (
    "compact",
    "optimize-zorder",
    "analyze-stats",
    "analyze-bloom",
    "add-constraint",
    "drop-constraint",
)

# sentinel standing in for SQL NULL during the executor-side multiset
# diff: NaN != NaN would keep identical survivor rows from cancelling
_NULL = "\x00__cdf_null__"


class _FilePartition(InputPartition):
    def __init__(
        self,
        file_path: str,
        version: int,
        arrow_schema_bytes: bytes,
        dir_map: dict | None = None,
        name_by_id: dict | None = None,
    ):
        self.file_path = file_path
        self.version = version
        self.arrow_schema_bytes = arrow_schema_bytes
        # column mapping: {file_col -> stable id} for this file's dir and
        # {id -> query-start logical name} — lets renamed-away columns
        # land under their current name instead of null-filling
        self.dir_map = dir_map
        self.name_by_id = name_by_id


def _source_columns(
    file_cols: list[str], dir_map: dict | None, name_by_id: dict | None
) -> dict[str, str]:
    """{logical_name: file_column} for one file, through the column-id
    mapping when present (identity otherwise). A MAPPED file column whose
    id left the table (dropped) is excluded — its bytes must never serve
    a later column that reuses the name."""
    out: dict[str, str] = {}
    for fc in file_cols:
        if dir_map is not None and fc in dir_map:
            logical = (name_by_id or {}).get(dir_map[fc])
            if logical is not None:
                out[logical] = fc
        else:
            out.setdefault(fc, fc)
    return out


class _CdfPartition(InputPartition):
    """One (version, table-partition) diff unit: the file rels present on
    only one side (or covered by a delete-entry delta), each side's
    applicable MoR delete entries, and the commit's recorded merge keys
    for update pairing."""

    def __init__(
        self,
        root: str,
        version: int,
        old_rels: list[str],
        new_rels: list[str],
        old_deletes: list[dict],
        new_deletes: list[dict],
        change_keys: list[str] | None,
        arrow_schema_bytes: bytes,
        old_maps: dict | None = None,
        new_maps: dict | None = None,
        name_by_id: dict | None = None,
    ):
        self.root = root
        self.version = version
        self.old_rels = old_rels
        self.new_rels = new_rels
        self.old_deletes = old_deletes
        self.new_deletes = new_deletes
        self.change_keys = change_keys
        self.arrow_schema_bytes = arrow_schema_bytes
        self.old_maps = old_maps or {}  # {rel: {file_col: id}} per side
        self.new_maps = new_maps or {}
        self.name_by_id = name_by_id


def _added_files(path: str, version: int) -> list[str]:
    """File rels ADDED by ``version``: its live file list minus the
    previous version's. Pure metadata — two materialized manifests."""
    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _live_file_rels,
        _materialize,
    )

    now = set(_live_file_rels(_materialize(path, version)))
    if version <= 1:
        return sorted(now)
    prev = set(_live_file_rels(_materialize(path, version - 1)))
    return sorted(now - prev)


class ManifestFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("manifest_feed requires .option('path', ...)")
        self.start_version = int(options.get("start_version", 0))
        self.mode = options.get("mode", "append")
        if self.mode not in ("append", "cdf"):
            raise ValueError(f"manifest_feed mode must be append|cdf, got {self.mode!r}")
        # ADMISSION CONTROL (Delta's maxFilesPerTrigger): bound how many
        # data files one micro-batch may read by capping how far
        # latestOffset advances past the last planned/committed version
        # (the rate-limit floor). Without it a backfill of a huge table
        # is ONE batch reading everything. The Python DataSource API has
        # no ReadLimit hook, so the floor is tracked reader-side: seeded
        # by initialOffset (fresh query — capping is safe immediately),
        # then advanced by every partitions()/commit() call. On a
        # RESTART Spark skips initialOffset, so the first trigger runs
        # uncapped (the floor is unknown and returning less than the
        # checkpointed offset would regress the offset log); rate
        # limiting resumes from the second trigger.
        mft = options.get("max_files_per_trigger")
        self.max_files_per_trigger = int(mft) if mft is not None else None
        if self.max_files_per_trigger is not None and (
            self.max_files_per_trigger < 1
        ):
            raise ValueError("max_files_per_trigger must be >= 1")
        self._rate_floor: "int | None" = None
        # per-version added-file counts, memoized across triggers:
        # versions are immutable, and during a large catch-up
        # latestOffset re-walks the same backlog every trigger —
        # without the cache that is O(backlog^2) manifest
        # materializations (ADVICE r7 low)
        self._added_count: dict[int, int] = {}
        # VACUUM-guard amortization (ADVICE r10 low): the full
        # _oldest_version directory listing runs once, on the FIRST
        # planned batch after (re)start; later batches verify with a
        # single stat of the batch's lowest needed commit file (vacuum
        # removes a contiguous version prefix, so that file existing
        # implies the whole needed range exists)
        self._vacuum_floor_checked = False
        # arrow schema for executor-side alignment, shipped per partition
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        fields = [
            pa.field(f.name, to_arrow_type(f.dataType))
            for f in schema.fields
            if f.name not in (VERSION_COL, CHANGE_COL)
        ]
        self._arrow_schema_bytes = pa.schema(fields).serialize().to_pybytes()
        # query-start column-id mapping (None on unmapped tables): lets
        # files written under pre-rename names feed the current schema
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
        )

        _, head = _latest_manifest(self.path)
        col_ids = head.get("col_ids")
        self._name_by_id = (
            {i: n for n, i in col_ids.items()} if col_ids else None
        )
        # head's dir mappings are authoritative for every dir still live
        # (dirs are immutable; mapping initialization back-filled them) —
        # old versions materialized from before the initialization carry
        # none of their own
        self._head_dir_ids = head.get("dir_col_ids", {})

    def initialOffset(self) -> dict:
        v = max(0, self.start_version - 1)
        self._note_floor(v)
        return {"version": v}

    def _note_floor(self, v: int) -> None:
        if self._rate_floor is None or v > self._rate_floor:
            self._rate_floor = v

    def latestOffset(self) -> dict:
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
        )

        head, _ = _latest_manifest(self.path)
        if self.max_files_per_trigger is None:
            return {"version": max(head, self.start_version - 1, 0)}
        # Observed runner lifecycle (pinned by test): on a FRESH query
        # the first latestOffset precedes initialOffset — the safe floor
        # is start_version-1 (== what initialOffset will return). On a
        # RESTART Spark re-plans the last logged batch through
        # partitions() BEFORE any latestOffset, so the floor is already
        # the checkpointed offset and capping can never regress the log.
        floor = (
            self._rate_floor
            if self._rate_floor is not None
            else max(0, self.start_version - 1)
        )
        # admit whole versions until the file budget is spent; always at
        # least one version so the stream can never stall
        v, budget = floor, self.max_files_per_trigger
        while v < head and budget > 0:
            n = self._added_count.get(v + 1)
            if n is None:
                n = len(_added_files(self.path, v + 1))
                self._added_count[v + 1] = n
            if v > floor and n > budget:
                break
            v += 1
            budget -= n
        return {"version": max(v, floor)}

    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["version"]), int(end["version"])
        if hi < lo:
            # impossible under the offset-log contract; failing loudly
            # beats silently re-emitting versions as duplicates
            raise ValueError(
                f"manifest_feed planned a regressed batch ({lo} -> {hi})"
            )
        # VACUUM guard: this batch diffs versions (lo, hi] against their
        # parents, so every commit file in [max(lo,1), hi] must still
        # exist. If VACUUM's retention floor moved past the stream's
        # checkpointed offset, resuming would either crash with an
        # opaque FileNotFoundError or — worse, if a later checkpoint
        # anchor happened to satisfy _materialize — silently emit a
        # wrong diff. Refuse LOUDLY with the recovery options instead
        # (Delta's failOnDataLoss stance, not kafka's data-loss skip).
        if hi > lo:
            import os

            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _manifest_dir,
                _oldest_version,
            )

            need_from = max(lo, 1)
            probe = os.path.join(
                _manifest_dir(self.path), f"{need_from}.json"
            )
            # amortized guard: after the first full listing, one stat
            # per trigger — vacuum removes a contiguous prefix, so the
            # lowest needed commit file existing implies the whole
            # (lo, hi] range exists. The full listing re-runs only when
            # that file is actually missing (to report the precise
            # surviving floor in the error).
            if not (self._vacuum_floor_checked and os.path.exists(probe)):
                oldest = _oldest_version(self.path)
                self._vacuum_floor_checked = True
                if oldest and need_from < oldest:
                    raise RuntimeError(
                        f"manifest_feed at {self.path}: this batch needs "
                        f"versions {need_from}..{hi} but VACUUM removed "
                        f"history below v{oldest} (oldest surviving "
                        "manifest). Resuming would skip committed changes; "
                        "restart the stream with a FRESH checkpoint (and "
                        f"start_version >= {oldest}), or re-run VACUUM with "
                        "longer retention before the next restart"
                    )
        self._note_floor(hi)
        if self.mode == "cdf":
            parts = self._cdf_partitions(lo, hi)
        else:
            from data_management_service_run_etl_imputations_spark.sources.sinks import (
                _live_file_rels,
                _materialize,
            )

            parts = []
            for v in range(lo + 1, hi + 1):
                now_c = _materialize(self.path, v)
                now = set(_live_file_rels(now_c))
                prev = (
                    set(_live_file_rels(_materialize(self.path, v - 1)))
                    if v > 1
                    else set()
                )
                dci = now_c.get("dir_col_ids", {})
                for frel in sorted(now - prev):
                    d = frel.rsplit("/", 1)[0]
                    parts.append(
                        _FilePartition(
                            f"{self.path}/{frel}",
                            v,
                            self._arrow_schema_bytes,
                            self._head_dir_ids.get(d) or dci.get(d),
                            self._name_by_id,
                        )
                    )
        # Spark requires >=1 partition per planned batch; an empty range
        # (e.g. a metadata-only commit) contributes an empty partition
        if not parts:
            parts.append(_FilePartition("", -1, self._arrow_schema_bytes))
        return parts

    def _cdf_partitions(self, lo: int, hi: int) -> list:
        """Plan the change-diff units for versions (lo, hi] — pure
        metadata: two materialized manifests per version, one unit per
        table partition whose FILE LIST differs (plus delete-entry
        deltas). Shared files cancel by immutability and are excluded
        unless a delete-entry delta covers their stage (the mask itself
        changed)."""
        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _commit_meta,
            _materialize,
            _read_commit_file,
            _stage_of,
        )

        parts: list[_CdfPartition] = []
        for v in range(lo + 1, hi + 1):
            meta = _commit_meta(_read_commit_file(self.path, v))
            op = str(meta.get("op") or "")
            if op.startswith(_CDF_SKIP_OPS):
                continue
            new = _materialize(self.path, v)
            old = (
                _materialize(self.path, v - 1)
                if v > 1
                else {"partitions": {}, "files": {}, "deletes": []}
            )
            if "files" not in new and new.get("partitions"):
                raise ValueError(
                    "manifest_feed cdf mode requires commit-time file "
                    f"lists; version {v} at {self.path} predates them"
                )
            old_del = {e["ref"]: e for e in old.get("deletes") or []}
            new_del = {e["ref"]: e for e in new.get("deletes") or []}
            delta_stages: set[str] = set()
            for ref in set(old_del) ^ set(new_del):
                delta_stages.update(
                    (old_del.get(ref) or new_del[ref])["stages"]
                )
            keys = (meta.get("op_metrics") or {}).get("keys")
            of_, nf_ = old.get("files", {}), new.get("files", {})
            for k in sorted(set(of_) | set(nf_)):
                o_rels = [e[0] for e in of_.get(k, [])]
                n_rels = [e[0] for e in nf_.get(k, [])]
                o_set, n_set = set(o_rels), set(n_rels)
                o_side = sorted(
                    r
                    for r in o_set
                    if r not in n_set or _stage_of(r) in delta_stages
                )
                n_side = sorted(
                    r
                    for r in n_set
                    if r not in o_set or _stage_of(r) in delta_stages
                )
                if not o_side and not n_side:
                    continue
                o_dci = {**old.get("dir_col_ids", {}), **self._head_dir_ids}
                n_dci = {**new.get("dir_col_ids", {}), **self._head_dir_ids}
                parts.append(
                    _CdfPartition(
                        self.path,
                        v,
                        o_side,
                        n_side,
                        [
                            e
                            for e in old.get("deletes") or []
                            if any(
                                _stage_of(r) in e["stages"] for r in o_side
                            )
                        ],
                        [
                            e
                            for e in new.get("deletes") or []
                            if any(
                                _stage_of(r) in e["stages"] for r in n_side
                            )
                        ],
                        list(keys) if keys else None,
                        self._arrow_schema_bytes,
                        {
                            r: o_dci[r.rsplit("/", 1)[0]]
                            for r in o_side
                            if r.rsplit("/", 1)[0] in o_dci
                        },
                        {
                            r: n_dci[r.rsplit("/", 1)[0]]
                            for r in n_side
                            if r.rsplit("/", 1)[0] in n_dci
                        },
                        self._name_by_id,
                    )
                )
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        if isinstance(partition, _CdfPartition):
            return _read_cdf_partition(partition)
        target = pa.ipc.read_schema(
            pa.BufferReader(partition.arrow_schema_bytes)
        )
        if not partition.file_path:
            return iter(())
        t = pq.read_table(partition.file_path)
        n = len(t)
        src_of = _source_columns(
            t.column_names, partition.dir_map, partition.name_by_id
        )
        cols = []
        for field in target:
            if field.name in src_of:
                cols.append(t.column(src_of[field.name]).cast(field.type))
            else:
                cols.append(pa.nulls(n, field.type))  # pre-evolution file
        cols.append(pa.array([partition.version] * n, pa.int64()))
        out = pa.table(
            cols, schema=target.append(pa.field(VERSION_COL, pa.int64()))
        )
        return iter(out.to_batches())

    def commit(self, end: dict) -> None:
        # progress lives in Spark's checkpoint; manifests are immutable.
        # The committed version still feeds the rate-limit floor.
        self._note_floor(int(end["version"]))

    def stop(self) -> None:
        pass


def _norm_value(v):
    """Hashable, null-normalized stand-in for a cell value so identical
    rows cancel in the multiset diff: NULL/NaN → sentinel (NaN != NaN
    would keep every null-bearing survivor alive as phantom churn),
    arrays/maps → tuples."""
    import numpy as np
    import pandas as pd

    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    try:
        if pd.isna(v):
            return _NULL
    except (TypeError, ValueError):
        pass
    return v


def _read_cdf_partition(p: "_CdfPartition"):
    """Executor-side change computation for one (version, partition)
    unit: read both file sets (aligned to the stream schema), apply each
    side's merge-on-read delete masks, multiset-diff, and classify. Cost
    is bounded by the rows of the files that actually CHANGED — the
    file-granular writers keep that the touched slice, never the
    partition."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_management_service_run_etl_imputations_spark.sources.sinks import (
        _stage_of,
    )

    target = pa.ipc.read_schema(pa.BufferReader(p.arrow_schema_bytes))
    names = [f.name for f in target]
    delete_keys_cache: dict[str, pd.DataFrame] = {}

    def _sentinel(df: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
        out = pd.DataFrame(index=df.index)
        for c in cols:
            s = df[c]
            out[c] = s.astype(object).where(s.notna(), _NULL)
        return out

    def _load_side(
        rels: list[str], deletes: list[dict], maps: dict
    ) -> pd.DataFrame:
        frames = []
        for rel in rels:
            t = pq.read_table(f"{p.root}/{rel}")
            n = len(t)
            src_of = _source_columns(
                t.column_names, maps.get(rel), p.name_by_id
            )
            cols = []
            for field in target:
                if field.name in src_of:
                    cols.append(t.column(src_of[field.name]).cast(field.type))
                else:
                    cols.append(pa.nulls(n, field.type))
            df = pa.table(cols, schema=target).to_pandas().reset_index(
                drop=True
            )
            stage = _stage_of(rel)
            # POSITIONAL masks first: row_index refers to the PHYSICAL
            # row order of the file, which is exactly the frame's index
            # right now (whole-file read, 0..n-1) and stops being so the
            # moment any other mask filters rows
            for entry in deletes:
                if entry.get("kind") != "pos" or df.empty:
                    continue
                if rel not in entry.get("files", []):
                    continue
                ck = (entry["ref"], "__pos__")
                if ck not in delete_keys_cache:
                    delete_keys_cache[ck] = (
                        pq.read_table(f"{p.root}/{entry['ref']}")
                        .to_pandas()
                    )
                kdf = delete_keys_cache[ck]
                pos = kdf.loc[kdf["file"] == rel, "pos"]
                if len(pos):
                    df = df[~df.index.isin(set(pos.tolist()))]
            df = df.reset_index(drop=True)
            for entry in deletes:
                if entry.get("kind") == "pos":
                    continue
                if stage not in entry["stages"] or df.empty:
                    continue
                ck = (entry["ref"], tuple(entry["cols"]))
                if ck not in delete_keys_cache:
                    kt = pq.read_table(f"{p.root}/{entry['ref']}")
                    kdf = kt.to_pandas()
                    # key files keep pre-rename physical names; re-label
                    # to the entry's current logical match columns
                    fcols = entry.get("key_cols", entry["cols"])
                    kdf = kdf[list(fcols)]
                    kdf.columns = list(entry["cols"])
                    delete_keys_cache[ck] = kdf
                kcols = list(entry["cols"])
                rk = _sentinel(
                    delete_keys_cache[ck], kcols
                ).drop_duplicates()
                rk = rk.assign(__hit=1)
                m = _sentinel(df, kcols).merge(rk, on=kcols, how="left")
                df = df[m["__hit"].isna().to_numpy()].reset_index(drop=True)
            frames.append(df)
        if not frames:
            return pd.DataFrame(columns=names)
        return pd.concat(frames, ignore_index=True)

    def _index(df: pd.DataFrame):
        from collections import Counter

        counts: Counter = Counter()
        first: dict = {}
        vals = (
            df[names].to_numpy(dtype=object)
            if len(df)
            else np.empty((0, len(names)), dtype=object)
        )
        for i in range(len(vals)):
            key = tuple(_norm_value(x) for x in vals[i])
            counts[key] += 1
            first.setdefault(key, vals[i])
        return counts, first

    def _emit_whole_side(df: pd.DataFrame, ctype: str):
        # FAST PATH: one side is empty, so every surviving row of the
        # other side is a change of one type — no normalization, no
        # per-row hashing; vectorized pandas → Arrow. This is the
        # dominant shape (v1 backfill and append-only commits).
        n = len(df)
        if not n:
            return iter(())
        cols = [
            pa.array(df[f.name], type=f.type, from_pandas=True)
            for f in target
        ]
        cols.append(pa.array([ctype] * n, pa.string()))
        cols.append(pa.array([p.version] * n, pa.int64()))
        out_schema = target.append(
            pa.field(CHANGE_COL, pa.string())
        ).append(pa.field(VERSION_COL, pa.int64()))
        return iter(pa.table(cols, schema=out_schema).to_batches())

    if not p.old_rels:
        return _emit_whole_side(
            _load_side(p.new_rels, p.new_deletes, p.new_maps), "insert"
        )
    if not p.new_rels:
        return _emit_whole_side(
            _load_side(p.old_rels, p.old_deletes, p.old_maps), "delete"
        )

    oc, of_ = _index(_load_side(p.old_rels, p.old_deletes, p.old_maps))
    nc, nf_ = _index(_load_side(p.new_rels, p.new_deletes, p.new_maps))
    added, removed = [], []  # (original_row, multiplicity, norm_key)
    for key in oc.keys() | nc.keys():
        d = nc.get(key, 0) - oc.get(key, 0)
        if d > 0:
            added.append((nf_[key], d, key))
        elif d < 0:
            removed.append((of_[key], -d, key))

    ki = (
        [names.index(k) for k in p.change_keys if k in names]
        if p.change_keys
        else []
    )
    out_rows: list[tuple] = []
    if ki:
        removed_keys = {tuple(k[j] for j in ki) for _, _, k in removed}
        added_keys = {tuple(k[j] for j in ki) for _, _, k in added}
        for row, m, k in added:
            ctype = (
                "update_post"
                if tuple(k[j] for j in ki) in removed_keys
                else "insert"
            )
            out_rows.extend([(row, ctype)] * m)
        for row, m, k in removed:
            if tuple(k[j] for j in ki) in added_keys:
                continue  # pre-image of an update: suppressed
            out_rows.extend([(row, "delete")] * m)
    else:
        for row, m, _ in added:
            out_rows.extend([(row, "insert")] * m)
        for row, m, _ in removed:
            out_rows.extend([(row, "delete")] * m)
    if not out_rows:
        return iter(())

    cols = []
    for j, field in enumerate(target):
        cols.append(
            pa.array(
                [r[0][j] for r in out_rows],
                type=field.type,
                from_pandas=True,
            )
        )
    cols.append(pa.array([r[1] for r in out_rows], pa.string()))
    cols.append(pa.array([p.version] * len(out_rows), pa.int64()))
    out_schema = target.append(pa.field(CHANGE_COL, pa.string())).append(
        pa.field(VERSION_COL, pa.int64())
    )
    return iter(pa.table(cols, schema=out_schema).to_batches())


class ManifestFeedDataSource(DataSource):
    """``manifest_feed`` format: exactly-once streaming reads of the
    files each manifest commit added."""

    @classmethod
    def name(cls) -> str:
        return "manifest_feed"

    def schema(self):
        import json

        from pyspark.sql.types import LongType, StructField, StructType

        from data_management_service_run_etl_imputations_spark.sources.sinks import (
            _latest_manifest,
        )

        path = self.options.get("path")
        if not path:
            raise ValueError("manifest_feed requires .option('path', ...)")
        version, content = _latest_manifest(path)
        if version == 0 or not content.get("schema_json"):
            raise ValueError(
                f"no manifest table (with schema_json) at {path}"
            )
        # fromJson is pure Python — this method runs in a session-less
        # data-source worker where Spark's DDL parser is unavailable
        base = StructType.fromJson(json.loads(content["schema_json"]))
        extra = [StructField(VERSION_COL, LongType(), False)]
        if self.options.get("mode", "append") == "cdf":
            from pyspark.sql.types import StringType

            extra = [
                StructField(CHANGE_COL, StringType(), False),
                *extra,
            ]
        return StructType([*base.fields, *extra])

    def streamReader(self, schema):
        return ManifestFeedStreamReader(schema, self.options)
