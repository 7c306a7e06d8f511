"""``etl_backfill``: the paper's job. One client loads one-day windows in
order with ``run_etl`` and re-runs each window, which must append nothing.
Each window writes a few hundred rows but scans the full sources and starts
dozens of Spark jobs, so the loop is bound by job latency."""

from __future__ import annotations

import os

import etl_gen
import harness as H

N_EMPLOYEES = 300
N_DAYS = 16  # more than a run loads
EMPTY = {"fact_imputaciones": 0, "fact_fichajes": 0}


class Workload:
    name = "etl_backfill"
    # seconds a loop step (a window and its re-run) takes on the reference host
    STEP_S = 9.0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.src = etl_gen.generate(seed, n_employees=N_EMPLOYEES, n_days=N_DAYS)
        self.input_dir = os.path.join(work, "sources")
        etl_gen.write_parquet(self.src, self.input_dir)
        self.out_dir = None
        self.loaded_days: list[str] = []
        self.failures: list[str] = []
        self.failed_other = 0  # failures no loop op owns

    def expected_counts(self, day: str) -> dict[str, int]:
        return {
            "fact_imputaciones": len(self.src.expected_imp[day]),
            "fact_fichajes": len(self.src.expected_fic[day]),
        }

    def first_op(self, spark) -> None:
        """The first window, into empty facts."""
        from data_management_service_run_etl_imputations_spark.plans.run import run_etl

        self.out_dir = os.path.join(self.work, "facts")
        day = self.src.days[0]
        got = run_etl(spark, self.input_dir, self.out_dir, day, day)
        self.loaded_days = [day]
        if got != self.expected_counts(day):
            self.failed_other += 1
            self.failures.append(f"setup window {day}: appended {got}")

    def install_spans(self, tracer: H.Tracer) -> None:
        from data_management_service_run_etl_imputations_spark.plans import fichajes, imputaciones, run

        tracer.wrap(run, "load_sources", "plans.load_sources")
        tracer.wrap(run, "build_imputaciones", "plans.build")
        tracer.wrap(run, "build_fichajes", "plans.build")
        tracer.wrap(run, "incremental_insert_only", "sinks.insert_only")
        tracer.wrap(imputaciones, "fuzzy_containment_lookup", "joins.fuzzy_lookup")
        tracer.wrap(fichajes, "fuzzy_containment_lookup", "joins.fuzzy_lookup")

    def loop(self, spark, tracer: H.Tracer, steps: int) -> None:
        from data_management_service_run_etl_imputations_spark.plans.run import run_etl

        for day in self.src.days[1 : 1 + steps]:
            want = self.expected_counts(day)
            with tracer.op("window", day) as span:
                got = run_etl(spark, self.input_dir, self.out_dir, day, day)
            span["rows"] = sum(got.values())
            span["ok"] = got == want
            self.loaded_days.append(day)
            with tracer.op("rerun", day) as span:
                again = run_etl(spark, self.input_dir, self.out_dir, day, day)
            span["ok"] = again == EMPTY
            if not span["ok"]:
                self.failures.append(f"re-run {day} appended {again}")

    def verify(self, spark, tracer: H.Tracer) -> None:
        """Compare every loaded day of both facts with the model; a day
        that differs fails its window op."""
        imp = spark.read.parquet(os.path.join(self.out_dir, "fact_imputaciones")).collect()
        fic = spark.read.parquet(os.path.join(self.out_dir, "fact_fichajes")).collect()
        bad, problems = etl_gen.compare(self.src, self.loaded_days, imp, fic)
        self.failures.extend(problems)
        self.failed_other += len(bad - {s["name"] for s in tracer.ops("window")})
        for span in tracer.ops("window"):
            if span["name"] in bad:
                span["ok"] = False
        self.n_files, self.n_bytes = H.dir_bytes(self.out_dir, lambda p: p.endswith(".parquet"))
        self.n_rows = len(imp) + len(fic)

    def detail(self, tracer: H.Tracer) -> dict:
        win = tracer.ops("window")
        w = [s["wall_s"] for s in win]
        return {
            "etl_window_p50_s": H.median(w),
            "etl_window_tail_s": H.tail(w),
            "etl_rerun_p50_s": H.median([s["wall_s"] for s in tracer.ops("rerun")]),
            "etl_rows_per_s": sum(s["rows"] for s in win) / sum(w) if w else 0.0,
            "windows": len(w),
            "fact_bytes_per_row": self.n_bytes / max(1, self.n_rows),
        }

    def per_layer(self, tracer: H.Tracer, log: dict) -> dict:
        ops = tracer.ops()
        n = max(1, len(ops))
        out = {}
        ms, _ = H.layer_ms(tracer, "plans.load_sources", ops)
        out["plans.load_sources_ms"] = ms / n
        ms, spans = H.layer_ms(tracer, "plans.build", ops)
        out["plans.build_ms"] = ms / n
        out["plans.build_jobs"] = H.jobs_in(log, spans) / n
        ms, _ = H.layer_ms(tracer, "joins.fuzzy_lookup", ops)
        out["joins.fuzzy_lookup_ms"] = ms / n
        ms, spans = H.layer_ms(tracer, "sinks.insert_only", ops)
        out["sinks.insert_only_ms"] = ms / n
        out["sinks.insert_only_jobs"] = H.jobs_in(log, spans) / n
        out["sinks.fact_files"] = self.n_files
        out["sinks.fact_rows"] = self.n_rows
        return out
