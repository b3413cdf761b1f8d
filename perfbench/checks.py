"""Correctness checks made apart from the program, and their self-test.

Query workloads: a query's Spark output must equal DuckDB running the
query's ``oracle_sql()`` text over the same parquet files (rows sorted,
floats rounded to 9 digits, NaN counted as NULL).

``ine_pipeline``: properties read back from the written layer with DuckDB,
which hold under any sparse-station rule, and parity with the reference's
step-4 rule computed in DuckDB from the generated CSVs.

Every check returns a list of problems; an empty list means it passed.
"""

from __future__ import annotations

import math
import os
from collections import Counter
from dataclasses import dataclass

import duckdb

import ine_gen

# ---------------------------------------------------------------- queries


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    return str(v)


def _norm(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple("" if x is None else str(x) for x in t))
    return [cols[i].lower() for i in order], out


def _cells_equal(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def compare_output(s_cols, s_rows, o_cols, o_rows) -> list[str]:
    sc, sr = _norm(list(s_cols), s_rows)
    oc, orr = _norm(list(o_cols), o_rows)
    if sc != oc:
        return [f"columns differ: spark={sc} oracle={oc}"]
    if len(sr) != len(orr):
        return [f"row count differs: spark={len(sr)} oracle={len(orr)}"]
    for i, (a, b) in enumerate(zip(sr, orr)):
        if len(a) != len(b) or not all(_cells_equal(x, y) for x, y in zip(a, b)):
            return [f"row {i} differs: spark={a} oracle={b}"]
    return []


class Oracle:
    """DuckDB over the generated parquet tables."""

    def __init__(self, tables_dir: str, tables: tuple[str, ...]):
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(tables_dir, f"{t}.parquet")
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    def run(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.sql(sql)
        return rel.columns, rel.fetchall()

    def close(self) -> None:
        self.con.close()


# ---------------------------------------------------------- ine_pipeline


@dataclass
class Layer:
    """One view of the written layer: its partition directories and rows."""

    partitions: list[str]
    rows: list[dict]


def read_layer(view_dir: str) -> Layer:
    """Read one view back with DuckDB."""
    partitions = sorted(p for p in os.listdir(view_dir) if not p.startswith(("_", ".")))
    rows: list[dict] = []
    if partitions:  # an empty view writes no partition at all
        files = os.path.join(view_dir, "*", "*.parquet")
        rel = duckdb.sql(f"SELECT * FROM read_parquet('{files}', hive_partitioning=true)")
        rows = [dict(zip(rel.columns, r)) for r in rel.fetchall()]
    return Layer(partitions, rows)


def generated_values(files: dict) -> dict[tuple, set[float]]:
    """(dataset, period, station) -> values written. The CSV reader turns an
    empty and a quoted-empty station into NULL alike, so '' keys as None."""
    out: dict[tuple, set[float]] = {}
    for ds, f in files.items():
        for r in f.rows:
            out.setdefault((ds, r.period, r.station or None), set()).add(r.value)
    return out


def layer_properties(view, layer: Layer, report: dict, gen: dict,
                     run_date: str) -> list[str]:
    problems = []
    p_col, s_col = view.period_out, view.station_out
    members = list(view.members)
    want = [f"run_date={run_date}"] if report["n_rows"] else []
    if layer.partitions != want:
        problems.append(f"partitions {layer.partitions}, expected {want}")
    n_null = sum(r[m] is None for r in layer.rows for m in members)
    if (len(layer.rows), n_null) != (report["n_rows"], report["n_null_cells"]):
        problems.append(f"read back {len(layer.rows)} rows / {n_null} NULL cells, "
                        f"observe() reported {report['n_rows']} / {report['n_null_cells']}")
    dup = [k for k, n in Counter((r[p_col], r[s_col]) for r in layer.rows).items() if n > 1]
    if dup:
        problems.append(f"duplicate keys {dup[:3]}")
    label_col = "Mes" if view.period_out == "mes" else "Año"
    for r in layer.rows:
        p, s = r[p_col], r[s_col]
        for m in members:
            if r[m] is not None and r[m] not in gen.get((m, p, s), ()):
                problems.append(f"{m}[{p},{s}]={r[m]} was never generated")
                break
        want_p = None if p is None else ine_gen.period_label(p, label_col)
        want_s = None if s is None else ine_gen.station_label(s)
        if (r["period_label"], r["station_label"]) != (want_p, want_s):
            problems.append(f"labels {r['period_label']!r}/{r['station_label']!r} "
                            f"for codes {p}/{s}")
        if len(problems) > 5:
            break
    return problems


def reference_step4(files: dict, view) -> dict[tuple, dict[str, set[float]]]:
    """The reference lifecycle's step 4 then step 5, in DuckDB over the CSVs:
    drop NULL and '' stations, drop stations with fewer than 3 records per
    dataset file, then consolidate: one row per remaining (period, station),
    each member's values (a duplicate key fans out to several)."""
    parts = []
    for ds in view.members:
        f = files[ds]
        parts.append(f"""
          SELECT '{ds}' AS ds, * FROM (
            SELECT CAST("{f.period_col}" AS INTEGER) AS period,
                   "{f.station_col}" AS station, CAST("Value" AS DOUBLE) AS value
            FROM read_csv('{f.path}', header=true, all_varchar=true)
            WHERE "{f.station_col}" IS NOT NULL AND "{f.station_col}" <> ''
          ) QUALIFY count(value) OVER (PARTITION BY station) >= 3""")
    rows = duckdb.sql(" UNION ALL ".join(parts)).fetchall()
    out: dict[tuple, dict[str, set[float]]] = {}
    for ds, period, station, value in rows:
        out.setdefault((period, station), {}).setdefault(ds, set()).add(value)
    return out


def step4_parity(view, rows: list[dict], ref: dict) -> list[str]:
    p_col, s_col = view.period_out, view.station_out
    got = {(r[p_col], r[s_col]): r for r in rows}
    if len(got) != len(rows) or got.keys() != ref.keys():
        return [f"{len(rows)} rows, reference rule gives {len(ref)}; "
                f"{len(got.keys() - ref.keys())} keys extra, "
                f"{len(ref.keys() - got.keys())} missing"]
    for key, r in got.items():
        for m in view.members:
            want = ref[key].get(m)
            if (r[m] is None) != (want is None) or (want is not None and r[m] not in want):
                return [f"{m}{list(key)}={r[m]}, reference rule gives {want}"]
    return []


# -------------------------------------------------------------- self-test


def self_test_oracle(cols, rows) -> list[str]:
    """A correct output must pass; a mismatched, a dropped and a duplicated
    row must fail. Each corruption hits the row that sorts last, where only
    the check meant for it can see it."""
    problems = []
    if compare_output(cols, rows, cols, rows):
        problems.append("oracle check fails on identical outputs")
    n_cols, n_rows = _norm(list(cols), rows)
    if n_rows:
        last = list(n_rows[-1])
        i = next((i for i, v in enumerate(last) if v is not None), 0)
        last[i] = last[i] + 1 if isinstance(last[i], float) else f"{last[i]}#"
        for name, corrupt in (("mismatched row", [*n_rows[:-1], tuple(last)]),
                              ("dropped row", n_rows[:-1]),
                              ("duplicated row", [*n_rows, n_rows[-1]])):
            if not compare_output(cols, rows, n_cols, corrupt):
                problems.append(f"oracle check passes a {name}")
    return problems


def self_test_ine(view, layer: Layer, report: dict, gen: dict, run_date: str,
                  ref: dict) -> list[str]:
    """Each layer property and the parity check must fail on a corrupted
    output: a perturbed cell, a perturbed label, a dropped row, a duplicated
    key, a second partition; the parity check must pass on the reference
    rule's own rows."""
    problems = []
    rows = layer.rows
    m = next(m for m in view.members if any(r[m] is not None for r in rows))
    i = next(i for i, r in enumerate(rows) if r[m] is not None)

    def variant(new_rows, partitions=None) -> Layer:
        return Layer(partitions or layer.partitions, new_rows)

    cell = [dict(r) for r in rows]
    cell[i][m] += 1000.0
    label = [dict(r) for r in rows]
    label[i]["period_label"] = "?"
    cases = {
        "perturbed cell": variant(cell),
        "perturbed label": variant(label),
        "dropped row": variant(rows[1:]),
        "duplicated key": variant([*rows, dict(rows[0])]),
        "second partition": variant(rows, [*layer.partitions, "run_date=1999-01-01"]),
    }
    for name, c in cases.items():
        r = dict(report)
        if name == "duplicated key":  # keep counts consistent: only the key check may catch it
            r["n_rows"] += 1
            r["n_null_cells"] += sum(rows[0][mm] is None for mm in view.members)
        if not layer_properties(view, c, r, gen, run_date):
            problems.append(f"layer properties pass a {name}")

    ref_rows = []
    for (p, s), cells in ref.items():
        row = {view.period_out: p, view.station_out: s}
        row.update({mm: min(cells[mm]) if mm in cells else None for mm in view.members})
        ref_rows.append(row)
    if step4_parity(view, ref_rows, ref):
        problems.append("parity fails on the reference rule's own rows")
    if ref_rows:
        bumped = [dict(r) for r in ref_rows]
        mm = next(k for k in view.members if bumped[0][k] is not None)
        bumped[0][mm] += 1000.0
        for name, corrupt in (("perturbed cell", bumped), ("dropped row", ref_rows[1:]),
                              ("duplicated key", [*ref_rows, ref_rows[0]])):
            if not step4_parity(view, corrupt, ref):
                problems.append(f"parity passes a {name}")
    return problems
