"""``table_sql_mix``: one client sends a seeded stream of ``manifest_sql``
statements to one ``fecha``-partitioned table shaped like
``fact_imputaciones``: 40% SELECT with a partition predicate favouring
recent days, 25% INSERT batch, 15% insert-only MERGE (the paper's S7 load,
half of each batch already present), 10% UPDATE WHERE and 10% DELETE
WHERE. Reads and writes share the table-format layer, so a commit-path
change that costs reads shows here.

A Python model of the table checks every SELECT and, at the end, the whole
table; ``manifest_fsck`` must report the table sound."""

from __future__ import annotations

import datetime as dt
import os
import random

import harness as H

COLS = (
    "fecha DATE, tarea STRING, cliente STRING, proyecto STRING, etiqueta STRING, "
    "precio_hora DOUBLE, horas_imputadas DOUBLE, empresa_id INT, departamento_id INT, "
    "empleado_id INT"
)
COLS_ORDER = [c.split()[0] for c in COLS.split(", ")]
KEY = ("empleado_id", "fecha", "tarea")
TASKS = ["dev", "review", "meeting", "ops", "docs", ""]
VERBS = ("select", "insert", "merge", "update", "delete")
# One block of 20 statements: 40% SELECT, 25% INSERT, 15% MERGE, 10% UPDATE,
# 10% DELETE. The verb order is fixed and the seed draws every statement's
# days, rows and predicates, so the table passes its thresholds at the same
# point of every run. The set-up leaves a merge-on-read DELETE pending, so
# SELECTs take the Python DataSource path, where a long session spends its
# reads.
SCHEDULE = (
    "delete", "select", "insert", "select", "merge", "select", "insert", "update", "select", "insert",
    "select", "merge", "select", "insert", "delete", "select", "update", "insert", "select", "merge",
)
INITIAL_DAYS = 16
BATCH_ROWS = 120
START = dt.date(2024, 1, 1)


class Workload:
    name = "table_sql_mix"
    # seconds a loop step (one statement) takes on the reference host
    STEP_S = 1.8

    def __init__(self, work: str, seed: int):
        self.work = work
        self.rng = random.Random(seed)
        self.failures: list[str] = []
        self.failed_other = 0  # failures no loop op owns
        self.table = self.path = None
        self.live_files = None  # traced runs: live files after the last write
        self.model: dict[tuple, tuple] = {}
        self.next_emp = 1
        self.day = INITIAL_DAYS

    # -- data ----------------------------------------------------------------

    def _row(self, day: int, emp: int, task: str) -> tuple:
        r = self.rng
        return (
            START + dt.timedelta(days=day), task, f"cliente-{emp % 17}", f"proj-{r.randrange(9)}",
            r.choice(["tag1", "tag2", "No especificada"]), float(r.randrange(20, 90)),
            r.randrange(1, 40) * 0.25, r.choice([None, 1, 2, 3]), 100 + emp % 25, emp,
        )

    def _batch(self, day: int, n: int) -> list[tuple]:
        rows = []
        for _ in range(n):
            emp = self.next_emp
            self.next_emp += 1
            rows.append(self._row(day, emp, self.rng.choice(TASKS)))
        return rows

    def _view(self, spark, rows: list[tuple], name: str) -> str:
        spark.createDataFrame(rows, COLS).coalesce(1).createOrReplaceTempView(name)
        return name

    def _recent_day(self) -> int:
        """A loaded day, favouring recent ones."""
        back = min(self.day - 1, int(self.rng.expovariate(1 / 6.0)))
        return self.day - 1 - back

    @staticmethod
    def _lit(day: int) -> str:
        return f"DATE'{START + dt.timedelta(days=day)}'"

    # -- set-up ----------------------------------------------------------------

    def first_op(self, spark) -> None:
        """Create and load the table, then bring it to the state the mix
        runs in: one merge-on-read DELETE pending and the first read, on the
        Python DataSource path, paid."""
        from data_management_service_run_etl_imputations_spark.sources.manifest_batch import manifest_sql

        self.table = "fact_mix"
        self.path = os.path.join(self.work, "table")
        rows = [r for d in range(INITIAL_DAYS) for r in self._batch(d, BATCH_ROWS // 2)]
        manifest_sql(spark, f"CREATE TABLE {self.table} ({COLS}) LOCATION '{self.path}' PARTITIONED BY (fecha)")
        src = self._view(spark, rows, f"{self.table}_init")
        manifest_sql(spark, f"INSERT INTO {self.table} SELECT * FROM {src}")
        for r in rows:
            self.model[(r[9], r[0], r[1])] = r
        tracer = H.Tracer(spark, enabled=False)
        self._delete(spark, tracer, manifest_sql, 0)
        self._select(spark, tracer, manifest_sql, 0)
        if not tracer.ops("select")[0]["ok"]:
            self.failed_other += 1

    def install_spans(self, tracer: H.Tracer) -> None:
        pass

    # -- the loop ------------------------------------------------------------

    def loop(self, spark, tracer: H.Tracer, steps: int) -> None:
        from data_management_service_run_etl_imputations_spark.sources.manifest_batch import manifest_sql

        if tracer.enabled:
            self.live_files = manifest_sql(spark, f"DESCRIBE DETAIL {self.table}").collect()[0]["num_files"]
        for n in range(1, steps + 1):
            verb = SCHEDULE[(n - 1) % len(SCHEDULE)]
            getattr(self, f"_{verb}")(spark, tracer, manifest_sql, n)
            if tracer.enabled and verb != "select":
                d = manifest_sql(spark, f"DESCRIBE DETAIL {self.table}").collect()[0]
                self.live_files = d["num_files"]

    def _select(self, spark, tracer, manifest_sql, n):
        lo = self._recent_day()
        hi = min(self.day - 1, lo + self.rng.choice([0, 0, 1, 3]))
        sql = (
            f"SELECT count(*) AS n, sum(horas_imputadas) AS h, sum(empleado_id) AS e "
            f"FROM {self.table} WHERE fecha BETWEEN {self._lit(lo)} AND {self._lit(hi)}"
        )
        with tracer.op("select") as span:
            got = manifest_sql(spark, sql).collect()[0]
        lo_d, hi_d = START + dt.timedelta(days=lo), START + dt.timedelta(days=hi)
        rows = [r for r in self.model.values() if lo_d <= r[0] <= hi_d]
        want = (len(rows), sum(r[6] for r in rows) if rows else None, sum(r[9] for r in rows) if rows else None)
        span["ok"] = (got["n"], got["h"], got["e"]) == want
        span["live_files"] = self.live_files
        if not span["ok"]:
            self.failures.append(f"select {lo}..{hi}: got {tuple(got)} want {want}")

    def _insert(self, spark, tracer, manifest_sql, n):
        rows = self._batch(self.day, BATCH_ROWS)
        src = self._view(spark, rows, f"src_{n}")
        with tracer.op("insert"):
            manifest_sql(spark, f"INSERT INTO {self.table} SELECT * FROM {src}")
        for r in rows:
            self.model[(r[9], r[0], r[1])] = r
        self.day += 1

    def _merge(self, spark, tracer, manifest_sql, n):
        """Insert-only MERGE: half the batch repeats keys already loaded
        (with other values, which must not win)."""
        old_keys = self.rng.sample(sorted(self.model, key=repr), BATCH_ROWS // 2)
        rows = [self._row(k[1].toordinal() - START.toordinal(), k[0], k[2]) for k in old_keys]
        rows += self._batch(self.day, BATCH_ROWS - len(rows))
        src = self._view(spark, rows, f"src_{n}")
        on = " AND ".join(f"t.{k} = s.{k}" for k in KEY)
        with tracer.op("merge"):
            manifest_sql(
                spark,
                f"MERGE INTO {self.table} t USING {src} s ON {on} WHEN NOT MATCHED THEN INSERT *",
            )
        for r in rows:
            self.model.setdefault((r[9], r[0], r[1]), r)
        self.day += 1

    def _update(self, spark, tracer, manifest_sql, n):
        day = self._recent_day()
        m = self.rng.choice([3, 5, 7])
        with tracer.op("update"):
            manifest_sql(
                spark,
                f"UPDATE {self.table} SET horas_imputadas = horas_imputadas + 0.5 "
                f"WHERE fecha = {self._lit(day)} AND empleado_id % {m} = 1",
            )
        d = START + dt.timedelta(days=day)
        for k, r in self.model.items():
            if r[0] == d and r[9] % m == 1:
                self.model[k] = r[:6] + (r[6] + 0.5,) + r[7:]

    def _delete(self, spark, tracer, manifest_sql, n):
        day = self._recent_day()
        m = self.rng.choice([4, 6])
        with tracer.op("delete"):
            manifest_sql(
                spark,
                f"DELETE FROM {self.table} WHERE fecha = {self._lit(day)} AND empleado_id % {m} = 2",
            )
        d = START + dt.timedelta(days=day)
        for k in [k for k, r in self.model.items() if r[0] == d and r[9] % m == 2]:
            del self.model[k]

    # -- checks and numbers --------------------------------------------------

    def verify(self, spark, tracer: H.Tracer) -> None:
        from data_management_service_run_etl_imputations_spark.sources.fsck import manifest_fsck
        from data_management_service_run_etl_imputations_spark.sources.manifest_batch import manifest_sql

        df = manifest_sql(spark, f"SELECT * FROM {self.table}")
        got = sorted((tuple(r) for r in df.collect()), key=repr)
        order = [COLS_ORDER.index(c) for c in df.columns]
        want = sorted((tuple(r[i] for i in order) for r in self.model.values()), key=repr)
        if got != want:
            self.failed_other += 1
            self.failures.append(f"final table differs from the model: {len(got)} rows vs {len(want)}")
        fsck = manifest_fsck(self.path)
        if not fsck["ok"]:
            self.failed_other += 1
            self.failures.append(f"fsck: {fsck['errors'][:3]}")
        self.live_rows = len(got)
        d = manifest_sql(spark, f"DESCRIBE DETAIL {self.table}").collect()[0]
        self.live_bytes = d["size_in_bytes"]
        self.live_files = d["num_files"]

    def detail(self, tracer: H.Tracer) -> dict:
        reads = [s["wall_s"] for s in tracer.ops("select")]
        writes = [s["wall_s"] for v in VERBS[1:] for s in tracer.ops(v)]
        return {
            "sql_read_p50_s": H.median(reads),
            "sql_read_tail_s": H.tail(reads),
            "sql_write_p50_s": H.median(writes),
            "sql_write_tail_s": H.tail(writes),
            "table_bytes_per_live_row": self.live_bytes / max(1, self.live_rows),
            "statements": {v: len(tracer.ops(v)) for v in VERBS},
        }

    def per_layer(self, tracer: H.Tracer, log: dict) -> dict:
        out = {}
        for verb in VERBS:
            spans = tracer.ops(verb)
            out[f"manifest_sql.{verb}.p50_ms"] = H.median([s["wall_s"] * 1000 for s in spans]) if spans else 0.0
            out[f"manifest_sql.{verb}.driver_only_ms"] = (
                H.median([s["spark"]["driver_only_ms"] for s in spans]) if spans else 0.0
            )
            out[f"manifest_sql.{verb}.jobs"] = (
                sum(s["spark"]["jobs"] for s in spans) / len(spans) if spans else 0.0
            )
        sel = tracer.ops("select")
        if sel:
            out["manifest_batch.native_read_frac"] = sum(s["native_scan"] for s in sel) / len(sel)
            fr = [
                (s["files_read"] if s["native_scan"] else s["spark"]["scan_tasks"]) / s["live_files"]
                for s in sel if s.get("live_files")
            ]
            out["skipping.files_read_frac"] = sum(fr) / len(fr) if fr else 0.0
        commits = os.path.join(self.path, "_commits")
        out["sinks.commits"] = sum(1 for f in os.listdir(commits) if f.endswith(".json"))
        out["sinks.checkpoints"] = H.dir_bytes(
            os.path.join(commits, "_checkpoints"), lambda p: p.endswith(".meta.json")
        )[0]
        written = [H.dir_bytes(os.path.join(self.path, d), lambda p: p.endswith(".parquet")) for d in ("data", "_deletes")]
        out["sinks.files_written"] = sum(n for n, _ in written)
        out["sinks.bytes_written"] = sum(b for _, b in written)
        out["sinks.live_files"] = self.live_files
        out["sinks.log_bytes"] = H.dir_bytes(commits)[1]
        out["sinks.write_amp"] = out["sinks.bytes_written"] / max(1, self.live_bytes)
        return out

