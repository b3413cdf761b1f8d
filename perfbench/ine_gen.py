"""Seeded generator of the INE observation CSVs behind the 21 reference views.

One CSV per member dataset of ``plans.view_catalog.reference_views()`` (77
files), in the FIXTURES.md A1-A4/A7 shapes plus the A8 ``nox_perc95`` dirty
variant (period code column ``DTI_CL_MES``, label column ``Año``).

The file layout -- which (period, station) keys each file holds, the sparse
stations, the NULL/'' station rows, the duplicate keys, the flag-column
casings -- is fixed and does not depend on the seed. The seed draws the
measured values (and the rare flag codes). So row counts, and with them
whether the pipeline's sparse-station rule agrees with the reference's, are
the same for every seed; the bytes on disk and the values are not.

Dirty cases present in every file (FIXTURES.md "Data-distribution
requirements"):

- stations with 1 and 2 records (some shared by all members of a view, so a
  per-pair count across members and the reference's per-file count differ);
- rows whose station is NULL (an empty CSV field) and '' (a quoted empty
  string);
- (period, station) coverage that differs between the members of a view;
- a few duplicate (period, station) keys with a second, different value;
- flag columns in one of three casings; ``nox_perc95`` has none.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

# Layout knobs: the key layout comes from LAYOUT_SEED, never from --seed.
LAYOUT_SEED = 20_240_101
MONTHLY_YEARS = range(2016, 2024)  # 96 months
ANNUAL_YEARS = range(2008, 2024)  # 16 years
STATIONS = {  # station column type -> number of regular stations
    "DTI_CL_EST_MONITOREO_AIRE": 48,
    "DTI_CL_ESTACIONES_METEO": 48,
    "CL_T017ESTACION_SHOA": 24,
    "DTI_CL_CUENCAS": 40,
}
COVERAGE = 0.6  # share of (period, station) keys a member holds
DUPLICATES_PER_FILE = 3
NULL_STATION_ROWS = 2  # and as many '' station rows

STATION_LABEL_COLUMN = {
    "DTI_CL_EST_MONITOREO_AIRE": "Estaciones de monitoreo del aire",
    "DTI_CL_ESTACIONES_METEO": "Estaciones meteorológicas DMC",
    "CL_T017ESTACION_SHOA": "Estación ambiental SHOA",
    "DTI_CL_CUENCAS": "Cuencas",
}
STATION_PREFIX = {
    "DTI_CL_EST_MONITOREO_AIRE": "AIRE",
    "DTI_CL_ESTACIONES_METEO": "METEO",
    "CL_T017ESTACION_SHOA": "SHOA",
    "DTI_CL_CUENCAS": "CUENCA",
}
FLAG_CASINGS = (
    ("Flag Codes", "Flags"),
    ("flag codes", "flags"),
    ("FLAG CODES", "FLAGS"),
)
DIRTY_DATASET = "nox_perc95"
MESES = ("Enero", "Febrero", "Marzo", "Abril", "Mayo", "Junio", "Julio",
         "Agosto", "Septiembre", "Octubre", "Noviembre", "Diciembre")


@dataclass(frozen=True)
class Row:
    period: int
    station: str | None  # None = NULL field, "" = quoted empty string
    value: float
    flag: str


@dataclass
class DatasetFile:
    path: str
    period_col: str
    period_label_col: str
    station_col: str
    flag_cols: tuple[str, ...]
    rows: list[Row]


def period_label(code: int, label_col: str) -> str:
    """The label the generator writes next to a period code."""
    if label_col == "Mes":
        return f"{MESES[code % 100 - 1]} {code // 100}"
    return str(code)


def station_label(code: str) -> str:
    return f"Estación {code}"


def _periods(monthly: bool) -> list[int]:
    if monthly:
        return [y * 100 + m for y in MONTHLY_YEARS for m in range(1, 13)]
    return list(ANNUAL_YEARS)


def _view_layout(view_name: str, members: tuple[str, ...], station_type: str,
                 monthly: bool) -> dict[str, list[tuple[int, str | None]]]:
    """Keys per member (with repeats for duplicates), from the fixed layout."""
    rnd = random.Random(f"{LAYOUT_SEED}:{view_name}")
    periods = _periods(monthly)
    prefix = STATION_PREFIX[station_type]
    regular = [f"{prefix}{i:03d}" for i in range(STATIONS[station_type])]
    out = {}
    for i, ds in enumerate(members):
        keys: list[tuple[int, str | None]] = [
            (p, s) for p in periods for s in regular if rnd.random() < COVERAGE
        ]
        # a station only this member has, with 1 and with 2 records
        keys.append((periods[0], f"{prefix}S1_{i}"))
        keys += [(periods[1], f"{prefix}S2_{i}"), (periods[2], f"{prefix}S2_{i}")]
        # a station every member has, with 1 record per member, same period
        keys.append((periods[3], f"{prefix}SHARED1"))
        for k in range(NULL_STATION_ROWS):
            keys.append((periods[4 + k], None))
            keys.append((periods[4 + k], ""))
        for k in rnd.sample(range(len(keys) - 8), DUPLICATES_PER_FILE):
            keys.append(keys[k])
        out[ds] = keys
    return out


def generate(out_dir: str, seed: int, views, station_map) -> dict[str, DatasetFile]:
    """Write one CSV per member dataset under ``out_dir``; return the files,
    with every row written, keyed by dataset name."""
    os.makedirs(out_dir, exist_ok=True)
    vals = random.Random(seed)
    files: dict[str, DatasetFile] = {}
    for view_name, view in views.items():
        monthly = view.period_out == "mes"
        station_type = station_map[view.members[0]]
        layout = _view_layout(view_name, view.members, station_type, monthly)
        for ds, keys in layout.items():
            if ds == DIRTY_DATASET:
                period_col, label_col = "DTI_CL_MES", "Año"
            elif monthly:
                period_col, label_col = "DTI_CL_MES", "Mes"
            else:
                period_col, label_col = "DTI_CL_ANO", "Año"
            flag_cols = () if ds == DIRTY_DATASET else FLAG_CASINGS[len(files) % 3]
            rows = [
                Row(p, s, round(vals.uniform(-50.0, 500.0), 2),
                    "E" if vals.random() < 0.02 else "")
                for p, s in keys
            ]
            f = DatasetFile(os.path.join(out_dir, f"{ds}.csv"), period_col,
                            label_col, station_type, flag_cols, rows)
            _write_csv(f)
            files[ds] = f
    return files


def _field(s: str | None) -> str:
    if s is None:
        return ""
    return f'"{s}"' if s == "" else s


def _write_csv(f: DatasetFile) -> None:
    header = [f.period_col, f.period_label_col, f.station_col,
              STATION_LABEL_COLUMN[f.station_col], "Value", *f.flag_cols]
    lines = [",".join(header)]
    for r in f.rows:
        st_label = "" if r.station is None else station_label(r.station)
        cells = [str(r.period), period_label(r.period, f.period_label_col),
                 _field(r.station), st_label, repr(r.value)]
        if f.flag_cols:
            cells += [r.flag, ""]
        lines.append(",".join(cells))
    with open(f.path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
