"""Seeded Sesame-shaped sources for the ``etl_backfill`` workload, and the
fact rows ``run_etl`` must load for each one-day window, computed in plain
Python without the engine.

The sources meet the six generator constraints of FIXTURES.md:

1. every ``company_name`` / ``department_name`` embeds a dim ``nombre``
   (case varied), the company dim has overlapping names ("acme" inside
   "acme holdings"), and one company matches nothing;
2. some DNIs appear twice in ``dim_empleado`` (the highest id wins);
3. employees have several department assignations (the latest wins);
4. ``comment`` and ``tags`` have nulls, and some employees are missing
   from ``dim_empleado`` (dropped by imputaciones, kept by fichajes);
5. several entries share one (employee, day, comment) grain, and some
   entries cross midnight;
6. the workload loads windows one after another into the same facts and
   re-runs each one, which must append nothing.

``project`` and ``tags`` are functions of (employee, comment), so the
``first()`` the pipeline takes per grain is deterministic and the model can
check every column.
"""

from __future__ import annotations

import datetime as dt
import os
import random
from dataclasses import dataclass, field

COMPANY_STEMS = [
    "acme", "acme holdings", "globex", "initech", "umbrella", "hooli",
    "stark", "wayne", "wonka", "tyrell", "cyberdyne", "soylent", "vandelay",
    "pied piper", "aperture", "black mesa", "oscorp", "gringotts", "monarch",
    "nakatomi", "massive dynamic", "duff", "krusty", "virtucon", "dunder",
    "bluth", "prestige", "sterling", "contoso", "fabrikam", "northwind",
    "tailspin", "adventure", "litware", "proseware", "woodgrove", "fourth",
    "coho", "lucerne", "margie",
]
DEPT_STEMS = [
    "engineering", "data", "finance", "legal", "sales", "marketing",
    "support", "people", "security", "research", "design", "operations",
    "procurement", "quality", "logistics", "facilities", "training",
    "audit", "treasury", "payroll", "product", "platform", "infra",
    "mobile", "growth",
]
NO_MATCH_COMPANY = "Zzyzx Unlisted Partners"
TASKS = ["dev", "review", "meeting", "ops", "docs", "support", "planning"]
START = dt.date(2024, 3, 1)


@dataclass
class EtlSources:
    """Source rows per table (FIXTURE_SCHEMAS column order) and the days
    they cover."""

    tables: dict[str, list[tuple]]
    days: list[str]
    expected_imp: dict[str, dict[tuple, tuple]] = field(default_factory=dict)
    expected_fic: dict[str, list[tuple]] = field(default_factory=dict)


def _first_match(text: str | None, dim: list[tuple[int, str]]) -> int | None:
    """J6 semantics: lowest id whose lower-cased name is contained in the
    lower-cased text; None for a null text or no match."""
    if text is None:
        return None
    low = text.lower()
    for i, name in dim:
        if name.lower() in low:
            return i
    return None


def _decorate(rng: random.Random, stem: str, suffixes: list[str]) -> str:
    style = rng.randrange(3)
    s = stem.upper() if style == 0 else stem.title() if style == 1 else stem
    return f"{rng.choice(['', 'Grupo ', 'The '])}{s}{rng.choice(suffixes)}"


def generate(
    seed: int, n_employees: int = 300, n_days: int = 40, entries_per_day: int = 3
) -> EtlSources:
    rng = random.Random(seed)
    days = [(START + dt.timedelta(days=d)).isoformat() for d in range(n_days)]

    dim_empresa = [(i + 1, s) for i, s in enumerate(COMPANY_STEMS)]
    dim_departamento = [(100 + i, s) for i, s in enumerate(DEPT_STEMS)]

    employees, dim_empleado, assignations = [], [], []
    emp_info: dict[str, dict] = {}
    next_eid = 1
    for e in range(n_employees):
        gid = f"emp-{seed}-{e:05d}"
        nid = f"DNI{e:06d}"
        if e % 37 == 5:
            company = NO_MATCH_COMPANY
        else:
            company = _decorate(rng, rng.choice(COMPANY_STEMS), [" S.L.", " SA", " Ltd", ""])
        price = round(rng.uniform(20, 90), 2)
        employees.append((gid, company, price, nid, rng.choice(["active", "inactive"])))

        empleado_id = None
        if e % 23 != 7:  # the rest are missing from dim_empleado
            empleado_id = next_eid
            dim_empleado.append((next_eid, nid))
            next_eid += 1
            if e % 19 == 3:  # duplicate DNI: the higher id wins
                dim_empleado.append((next_eid, nid))
                empleado_id = next_eid
                next_eid += 1

        latest = None
        n_assign = 0 if e % 29 == 11 else rng.randint(1, 3)
        for a in range(n_assign):
            dname = _decorate(rng, rng.choice(DEPT_STEMS), [" Dept", " Team", " & Co", ""])
            upd = f"2024-0{1 + a}-{rng.randint(10, 28)} 0{rng.randint(0, 9)}:00:00"
            assignations.append((gid, dname, "2024-01-01 00:00:00", upd))
            if latest is None or (upd, dname) > latest:
                latest = (upd, dname)
        emp_info[gid] = {
            "cliente": company,
            "precio": price,
            "empresa_id": _first_match(company, dim_empresa),
            "empleado_id": empleado_id,
            "dept_name": latest[1] if latest else None,
        }

    rng.shuffle(dim_empleado)
    time_entries, worked_hours = [], []
    gids = list(emp_info)
    for day_idx, day in enumerate(days):
        d0 = START + dt.timedelta(days=day_idx)
        for gid in gids:
            for _ in range(rng.randint(1, 2 * entries_per_day - 1)):
                task = rng.choice(TASKS + [None])
                h_in = rng.randint(7, 23)
                m_in = rng.choice([0, 15, 30, 45])
                minutes = rng.randint(15, 240)
                t_in = dt.datetime(d0.year, d0.month, d0.day, h_in, m_in)
                t_out = t_in + dt.timedelta(minutes=minutes)  # may cross midnight
                project, tag = _project_tag(gid, task)
                time_entries.append((
                    t_in.strftime("%Y-%m-%d %H:%M:%S"),
                    t_out.strftime("%Y-%m-%d %H:%M:%S"),
                    task, gid, project, tag,
                ))
            for _ in range(1 if rng.random() < 0.9 else 2):
                worked = float(rng.randint(0, 36000))
                to_work = float(rng.choice([0, 14400, 28800]))
                worked_hours.append((gid, worked, to_work, worked - to_work, day))
        # an unknown employee: dropped by imputaciones, kept by fichajes
        worked_hours.append((f"ghost-{day_idx}", 3600.0, 0.0, 3600.0, day))
        time_entries.append((f"{day} 10:00:00", f"{day} 11:00:00", "dev", f"ghost-{day_idx}", "p", None))
    rng.shuffle(time_entries)

    src = EtlSources(
        tables={
            "time_entries": time_entries,
            "employees": employees,
            "worked_hours": worked_hours,
            "department_assignations": assignations,
            "dim_empleado": dim_empleado,
            "dim_empresa": dim_empresa,
            "dim_departamento": dim_departamento,
        },
        days=days,
    )
    _expect(src, emp_info, dim_departamento)
    return src


def _project_tag(gid: str, task: str | None) -> tuple[str, str | None]:
    h = sum(map(ord, f"{gid}/{task}"))
    return f"proj-{h % 11}", None if h % 4 == 0 else f"tag{h % 5}"


def _expect(src: EtlSources, emp_info: dict, dim_dep: list[tuple[int, str]]) -> None:
    """Fill the expected fact rows per day.

    imputaciones: key (empleado_id, tarea) -> (cliente, proyecto, etiqueta,
    precio_hora, empresa_id, departamento_id, horas_imputadas).
    fichajes: (employeeId-derived empleado_id, empresa_id, departamento_id,
    tiempo_teorico, tiempo_trabajado) per (employeeId, date).
    """
    imp: dict[str, dict[tuple, list]] = {d: {} for d in src.days}
    for t_in, t_out, task, gid, project, tag in src.tables["time_entries"]:
        info = emp_info.get(gid)
        if info is None or info["empleado_id"] is None:
            continue
        day = t_in[:10]
        if day not in imp:
            continue
        hours = (
            dt.datetime.fromisoformat(t_out) - dt.datetime.fromisoformat(t_in)
        ).total_seconds() / 3600.0
        key = (info["empleado_id"], task or "")
        row = imp[day].get(key)
        if row is None:
            imp[day][key] = [
                info["cliente"], project, tag or "No especificada", info["precio"],
                info["empresa_id"], _first_match(info["dept_name"], dim_dep), hours,
            ]
        else:
            row[6] += hours
    src.expected_imp = {d: {k: tuple(v) for k, v in rows.items()} for d, rows in imp.items()}

    fic: dict[str, dict[str, list]] = {d: {} for d in src.days}
    for gid, worked, to_work, _bal, day in src.tables["worked_hours"]:
        acc = fic[day].setdefault(gid, [0.0, 0.0])
        acc[0] += to_work
        acc[1] += worked
    out: dict[str, list[tuple]] = {}
    for day, per_emp in fic.items():
        rows = []
        for gid, (teo, trab) in per_emp.items():
            info = emp_info.get(gid) or {"empleado_id": None, "empresa_id": None, "dept_name": None}
            dept = info["dept_name"] or "No asignado"
            rows.append((
                info["empleado_id"], info["empresa_id"], _first_match(dept, dim_dep), teo, trab,
            ))
        out[day] = sorted(rows, key=repr)
    src.expected_fic = out


def compare(src: EtlSources, days: list[str], imp_rows, fic_rows) -> tuple[set, list[str]]:
    """Compare the loaded facts (Spark rows) with the model for ``days``.
    Returns the days that differ and a message per problem."""
    got_imp: dict[str, dict[tuple, tuple]] = {}
    for r in imp_rows:
        day = r["fecha"].isoformat()
        key = (r["empleado_id"], r["tarea"])
        if key in got_imp.setdefault(day, {}):
            got_imp[day][key] = ("duplicate key",)
            continue
        got_imp[day][key] = (
            r["cliente"], r["proyecto"], r["etiqueta"], r["precio_hora"],
            r["empresa_id"], r["departamento_id"], round(r["horas_imputadas"], 6),
        )
    got_fic: dict[str, list[tuple]] = {}
    for r in fic_rows:
        got_fic.setdefault(r["fecha"], []).append((
            r["empleado_id"], r["empresa_id"], r["departamento_id"],
            r["tiempo_teorico"], r["tiempo_trabajado"],
        ))
    bad, problems = set(), []
    for day in days:
        want_imp = {k: v[:6] + (round(v[6], 6),) for k, v in src.expected_imp[day].items()}
        if got_imp.get(day, {}) != want_imp:
            bad.add(day)
            problems.append(f"fact_imputaciones {day} differs from the model")
        if sorted(got_fic.get(day, []), key=repr) != src.expected_fic[day]:
            bad.add(day)
            problems.append(f"fact_fichajes {day} differs from the model")
    extra = (set(got_imp) | set(got_fic)) - set(days)
    if extra:
        bad |= extra
        problems.append(f"rows for days never loaded: {sorted(extra)}")
    return bad, problems


def write_parquet(src: EtlSources, input_dir: str) -> None:
    """Write every source table as ``<name>.parquet`` with the engine's
    fixture schemas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_management_service_run_etl_imputations_spark.schemas import FIXTURE_SCHEMAS

    arrow_type = {"string": pa.string(), "double": pa.float64(), "int": pa.int32()}
    os.makedirs(input_dir, exist_ok=True)
    for name, rows in src.tables.items():
        fields = FIXTURE_SCHEMAS[name].fields
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        table = pa.table({
            f.name: pa.array(list(col), arrow_type[f.dataType.simpleString()])
            for f, col in zip(fields, cols)
        })
        pq.write_table(table, os.path.join(input_dir, f"{name}.parquet"))


def check_constraints(src: EtlSources) -> list[str]:
    """The FIXTURES.md constraints the generated sources fail to exercise
    (empty when all hold)."""
    t = src.tables
    missing = []
    dnis = [r[1] for r in t["dim_empleado"]]
    if len(dnis) == len(set(dnis)):
        missing.append("duplicate DNI")
    known = set(dnis)
    if all(r[3] in known for r in t["employees"]):
        missing.append("employee missing from dim_empleado")
    per_emp: dict[str, int] = {}
    for r in t["department_assignations"]:
        per_emp[r[0]] = per_emp.get(r[0], 0) + 1
    if max(per_emp.values(), default=0) < 2:
        missing.append("several department assignations")
    if not any(r[2] is None for r in t["time_entries"]):
        missing.append("null comment")
    if not any(r[5] is None for r in t["time_entries"]):
        missing.append("null tags")
    if not any(r[0][:10] != r[1][:10] for r in t["time_entries"]):
        missing.append("entry crossing midnight")
    grains: dict[tuple, int] = {}
    for r in t["time_entries"]:
        k = (r[3], r[0][:10], r[2])
        grains[k] = grains.get(k, 0) + 1
    if max(grains.values(), default=0) < 2:
        missing.append("several entries per grain")
    dim = t["dim_empresa"]
    if not any(_first_match(r[1], dim) is None for r in t["employees"]):
        missing.append("company matching nothing")
    overlapping = any(
        a != b and b.lower() in a.lower() for _, a in dim for _, b in dim
    )
    if not overlapping:
        missing.append("overlapping fuzzy names")
    return missing
