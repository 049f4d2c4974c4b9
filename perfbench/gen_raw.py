"""Seeded raw-zone and ocean-polygon generator with ground truth.

Writes an OBIS-shaped raw zone (``<data_dir>/beluga_whale/{start}--{end}.json``
documents of the form ``{"results": [...]}``) carrying the dirty patterns
of FIXTURES.md sections 1 and 3, plus nine GOaS-like star-shaped ocean
polygons of a few hundred vertices each.

Every row is generated from a known category (valid, duplicate,
repairable error, unrepairable error), so the expected outcome of the
pipeline is derived here from the specification alone, never by running
the program under test. Points are drawn either well inside one polygon
or well outside all of them, so the expected ocean does not depend on how
an implementation treats polygon boundaries.
"""

from __future__ import annotations

import calendar
import json
import math
import os
import random
from dataclasses import dataclass, field

WHALE = "beluga_whale"
SPECIES = "Delphinapterus leucas"
SPECIES_ID = 137115
VERNACULAR_SEED = "Beluga Whale"

OCEAN_NAMES = (
    "Arctic Ocean",
    "North Atlantic Ocean",
    "North Pacific Ocean",
    "Indian Ocean",
    "South Atlantic Ocean",
    "South Pacific Ocean",
    "Southern Ocean",
    "Mediterranean Region",
    "South China and Easter Archipelagic Seas",
)

#: 3 x 3 grid of (lon, lat) cells, one polygon centred in each
_LON_CELLS = ((-180.0, -60.0), (-60.0, 60.0), (60.0, 180.0))
_LAT_CELLS = ((-90.0, -30.0), (-30.0, 30.0), (30.0, 90.0))

#: year ranges of the full load's files; the incremental file is newer
FULL_FILE_YEARS = tuple((1900 + 5 * i, 1904 + 5 * i) for i in range(20))
INCREMENTAL_FILE_YEARS = (2000, 2004)
INCREMENTAL_STARTDATE = "2000-01-01"

# shares of generated rows (FIXTURES.md section 1)
DUP_SHARE = 0.20
NULL_ID_SHARE = 0.05
NULL_VERNACULAR_SHARE = 0.30
ABSENT_COUNT_SHARE = 0.40
REPAIRABLE_SHARE = 0.07
UNREPAIRABLE_SHARE = 0.03
OUTSIDE_SHARE = 0.10
REVISION_SHARE = 1 / 3

_MON = [calendar.month_abbr[i] for i in range(1, 13)]
_MONTH = [calendar.month_name[i] for i in range(1, 13)]


@dataclass
class Ocean:
    name: str
    lon0: float
    lat0: float
    ring: list[tuple[float, float]]
    r_inside: float  # every point closer than this to the centre is inside
    r_outside: float  # every point farther than this is outside

    def wkt(self) -> str:
        pts = self.ring + [self.ring[0]]
        return "POLYGON ((" + ", ".join(f"{x!r} {y!r}" for x, y in pts) + "))"


def make_oceans(rng: random.Random) -> list[Ocean]:
    """Nine non-overlapping star-shaped polygons, one per grid cell."""
    oceans = []
    cells = [(lo, la) for la in _LAT_CELLS for lo in _LON_CELLS]
    for name, (lon_c, lat_c) in zip(OCEAN_NAMES, cells):
        lon0 = (lon_c[0] + lon_c[1]) / 2
        lat0 = (lat_c[0] + lat_c[1]) / 2
        n = rng.randint(200, 400)
        base = rng.uniform(18.0, 22.0)
        waves = rng.randint(3, 7)
        phase = rng.uniform(0, 2 * math.pi)
        ring, radii = [], []
        for k in range(n):
            theta = 2 * math.pi * k / n
            r = base * (1 + 0.12 * math.sin(waves * theta + phase)) + rng.uniform(-0.3, 0.3)
            radii.append(r)
            ring.append(
                (round(lon0 + r * math.cos(theta), 6), round(lat0 + r * math.sin(theta), 6))
            )
        # a star-shaped ring contains the disc of radius min(r)*cos(step/2)
        r_inside = 0.9 * min(radii) * math.cos(math.pi / n)
        r_outside = 1.05 * max(radii) + 0.01
        oceans.append(Ocean(name, lon0, lat0, ring, r_inside, r_outside))
    return oceans


def _point_inside(rng: random.Random, o: Ocean) -> tuple[float, float]:
    r = o.r_inside * math.sqrt(rng.random())
    t = rng.uniform(0, 2 * math.pi)
    return o.lon0 + r * math.cos(t), o.lat0 + r * math.sin(t)


def _point_outside(rng: random.Random, oceans: list[Ocean]) -> tuple[float, float]:
    """A point in some grid cell but beyond its polygon's outer radius."""
    while True:
        o = rng.choice(oceans)
        lon = rng.uniform(o.lon0 - 59.0, o.lon0 + 59.0)
        lat = rng.uniform(o.lat0 - 29.0, o.lat0 + 29.0)
        if math.hypot(lon - o.lon0, lat - o.lat0) > o.r_outside:
            return lon, lat


@dataclass
class Survivor:
    """One row expected in the curated output (after dedup)."""

    occurrence_id: str | None
    ocean: str | None
    count: int
    channel: int  # 0 = valid, 1 = repaired error
    file_idx: int
    pos: int
    date_is_valid: bool
    year: int
    event_date: str  # eventDate as the pipeline emits it
    lat: float
    lon: float
    parts: tuple[int, int, int, int, int, int]


@dataclass
class Batch:
    """One ETL input: files plus the counts the pipeline must produce."""

    files: list[tuple[str, list[dict]]] = field(default_factory=list)
    raw_rows: int = 0
    valid_rows: int = 0  # passing validation, before dedup
    error_rows: int = 0
    repaired_rows: int = 0
    unrepaired_rows: int = 0
    dup_rows: int = 0  # valid rows dropped by keep-first dedup
    survivors: list[Survivor] = field(default_factory=list)

    def keyed_survivors(self) -> list[tuple[str, Survivor]]:
        """Survivors with null IDs re-keyed -1, -2, ... in ingest order
        (channel, file, position), as each run of the pipeline does."""
        nulls = sorted(
            (s for s in self.survivors if s.occurrence_id is None),
            key=lambda s: (s.channel, s.file_idx, s.pos),
        )
        keyed = [(s.occurrence_id, s) for s in self.survivors if s.occurrence_id is not None]
        keyed += [(str(-(k + 1)), s) for k, s in enumerate(nulls)]
        return keyed

    def truth(self) -> dict:
        null_ids = sum(1 for s in self.survivors if s.occurrence_id is None)
        per_ocean: dict[str, int] = {}
        for s in self.survivors:
            key = s.ocean or ""
            per_ocean[key] = per_ocean.get(key, 0) + 1
        per_year: dict[int, int] = {}
        for s in self.survivors:
            if s.date_is_valid:
                per_year[s.year] = per_year.get(s.year, 0) + 1
        return {
            "raw_rows": self.raw_rows,
            "valid_rows": self.valid_rows,
            "error_rows": self.error_rows,
            "repaired_rows": self.repaired_rows,
            "unrepaired_rows": self.unrepaired_rows,
            "dup_rows": self.dup_rows,
            "curated_rows": len(self.survivors),
            "curated_valid_channel": sum(1 for s in self.survivors if s.channel == 0),
            "null_id_rows": null_ids,
            "per_ocean": per_ocean,
            "valid_per_year": per_year,
        }


def _valid_date(rng: random.Random, y: int, m: int, d: int) -> str:
    iso = f"{y:04d}-{m:02d}-{d:02d}"
    hh, mm, ss = rng.randrange(24), rng.randrange(60), rng.randrange(60)
    kind = rng.random()
    if kind < 0.6:
        return iso
    if kind < 0.7:
        return f"{iso} {hh:02d}:{mm:02d}:{ss:02d}"
    if kind < 0.8:
        return f"{iso}T{hh:02d}:{mm:02d}:{ss:02d}Z"
    if kind < 0.9:
        return f"{iso} {hh:02d}:{mm:02d}:{ss:02d}+00"
    return f"{iso}T{hh:02d}:{mm:02d}"


def _repairable_date(rng: random.Random, y: int, y2: int) -> tuple[str, tuple]:
    """An error-routed date shape and the six nonzero parts split_dates
    must repair it to (reference cleaner.py:76-158)."""
    m, d = rng.randint(1, 12), rng.randint(1, 28)
    m2, d2 = rng.randint(1, 12), rng.randint(1, 28)
    last = calendar.monthrange(y, m)[1]
    month = (y, m, 1, y, m, last)
    year_range = (y, 1, 1, y2, 12, 31)
    day_1900 = (1900, m, d, 1900, m, d)
    return rng.choice(
        (
            (f"{y}-{m:02d}", month),
            (f"{y}", (y, 1, 1, y, 12, 31)),
            (f"{_MON[m - 1]} {y}", month),
            (f"{y} {_MON[m - 1]}", month),
            (f"{_MONTH[m - 1]} {y}", month),
            (f"{y}-{m:02d}-{d:02d}/{y2}-{m2:02d}-{d2:02d}", (y, m, d, y2, m2, d2)),
            (f"{y}-{m:02d}-{d:02d}T05:00/{y2}-{m2:02d}-{d2:02d}", (y, m, d, y2, m2, d2)),
            (f"{y}/{y2}", year_range),
            (f"{y}-{y2}", year_range),
            (f"{d} {_MON[m - 1]}", day_1900),
            (f"{_MON[m - 1]} {d}", day_1900),
        )
    )


def _unrepairable_date(rng: random.Random, y: int) -> str:
    return rng.choice(("unknown", "not recorded", "n/a", f"circa {y}"))


class RawZoneGenerator:
    """Generates the full load and the incremental window from one seed."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.oceans = make_oceans(self.rng)
        self._coords: set[tuple[float, float]] = set()
        self._next_id = 0
        # occurrences of the full load a later window may revise
        self._loaded: dict[str, dict] = {}

    def _new_id(self) -> str:
        self._next_id += 1
        return f"urn:obis:occ:{self._next_id:09d}"

    def _coord(self) -> tuple[tuple[float, float], str | None]:
        rng = self.rng
        while True:
            if rng.random() < OUTSIDE_SHARE:
                lon, lat = _point_outside(rng, self.oceans)
                ocean = None
            else:
                o = rng.choice(self.oceans)
                lon, lat = _point_inside(rng, o)
                ocean = o.name
            c = (round(lon, 7), round(lat, 7))
            if c not in self._coords:
                self._coords.add(c)
                return c, ocean

    def _row(self, occ_id, event_date, lon, lat) -> dict:
        rng = self.rng
        row = {
            "occurrenceID": occ_id,
            "eventDate": event_date,
            "verbatimEventDate": event_date if rng.random() < 0.5 else None,
            "decimalLatitude": lat,
            "decimalLongitude": lon,
            "waterBody": rng.choice((None, "Wrong Sea", *OCEAN_NAMES[:4])),
            "species": SPECIES,
            "speciesid": SPECIES_ID,
            "vernacularName": None
            if rng.random() < NULL_VERNACULAR_SHARE
            else rng.choice(("Beluga", "White whale")),
            "basisOfRecord": rng.choice(
                ("HumanObservation", "PreservedSpecimen", "MachineObservation")
            ),
            "bibliographicCitation": f"survey {rng.randrange(1000)}",
        }
        if rng.random() >= ABSENT_COUNT_SHARE:
            row["individualCount"] = rng.randint(1, 50)
        if rng.random() < 0.05:
            row["datasetName"] = "extra key dropped by the schema"
        return row

    def _batch(
        self,
        file_years: list[tuple[int, int]],
        n_rows: int,
        revisions: list[tuple[str, dict]] | None = None,
    ) -> Batch:
        rng = self.rng
        b = Batch()
        per_file = [n_rows // len(file_years)] * len(file_years)
        for i in range(n_rows % len(file_years)):
            per_file[i] += 1
        revisions = list(revisions or [])
        # share of fresh valid rows replaced by revisions, so that about
        # REVISION_SHARE of all rows revise already-loaded occurrences
        fresh_share = 1 - DUP_SHARE - REPAIRABLE_SHARE - UNREPAIRABLE_SHARE
        p_revision = REVISION_SHARE / fresh_share
        for fi, ((fs, fe), n) in enumerate(zip(file_years, per_file)):
            rows: list[dict] = []
            valid_here: list[dict] = []
            for pos in range(n):
                occ_id = None if rng.random() < NULL_ID_SHARE else self._new_id()
                u = rng.random()
                if u < DUP_SHARE and valid_here:
                    # same (eventDate, lat, lon) key as an earlier valid row,
                    # in the same or another accepted date format; other
                    # columns differ, and keep-first drops this one
                    src = rng.choice(valid_here)
                    y, m, d = src["_ymd"]
                    date = src["eventDate"] if rng.random() < 0.5 else _valid_date(rng, y, m, d)
                    rows.append(
                        self._row(occ_id, date, src["decimalLongitude"], src["decimalLatitude"])
                    )
                    b.valid_rows += 1
                    b.dup_rows += 1
                    continue
                if u >= DUP_SHARE + REPAIRABLE_SHARE + UNREPAIRABLE_SHARE and revisions \
                        and rng.random() < p_revision:
                    # an already-loaded occurrence re-delivered with a new count
                    rev_id, src = revisions.pop()
                    row = self._row(
                        rev_id, src["eventDate"], src["decimalLongitude"], src["decimalLatitude"]
                    )
                    row["individualCount"] = src.get("individualCount", 1) % 50 + 1
                    rows.append(row)
                    valid_here.append({**row, "_ymd": src["_ymd"]})
                    b.valid_rows += 1
                    y, m, d = src["_ymd"]
                    b.survivors.append(
                        Survivor(rev_id, src["_ocean"], row["individualCount"], 0, fi, pos,
                                 True, y, f"{y:04d}-{m:02d}-{d:02d}",
                                 row["decimalLatitude"], row["decimalLongitude"], (y, m, d) * 2)
                    )
                    continue
                (lon, lat), ocean = self._coord()
                y = rng.randint(fs, fe)
                if u < DUP_SHARE + REPAIRABLE_SHARE:
                    date, parts = _repairable_date(rng, y, rng.randint(y, fe))
                    row = self._row(occ_id, date, lon, lat)
                    rows.append(row)
                    b.error_rows += 1
                    b.repaired_rows += 1
                    b.survivors.append(
                        Survivor(occ_id, ocean, row.get("individualCount", 1), 1, fi, pos, False,
                                 y, date, lat, lon, parts)
                    )
                    continue
                if u < DUP_SHARE + REPAIRABLE_SHARE + UNREPAIRABLE_SHARE:
                    row = self._row(occ_id, _unrepairable_date(rng, y), lon, lat)
                    kind = rng.random()
                    if kind < 0.3:
                        row["decimalLatitude"] = None
                    elif kind < 0.5:
                        row["decimalLongitude"] = "not a number"
                    rows.append(row)
                    b.error_rows += 1
                    b.unrepaired_rows += 1
                    continue
                m = rng.randint(1, 12)
                d = rng.randint(1, calendar.monthrange(y, m)[1])
                row = self._row(occ_id, _valid_date(rng, y, m, d), lon, lat)
                rows.append(row)
                valid_here.append({**row, "_ymd": (y, m, d)})
                b.valid_rows += 1
                b.survivors.append(
                    Survivor(occ_id, ocean, row.get("individualCount", 1), 0, fi, pos, True, y,
                             f"{y:04d}-{m:02d}-{d:02d}", lat, lon, (y, m, d) * 2)
                )
                if occ_id is not None:
                    self._loaded[occ_id] = {**row, "_ocean": ocean, "_ymd": (y, m, d)}
            b.raw_rows += len(rows)
            b.files.append((f"{fs:04d}-01-01--{fe:04d}-12-31.json", rows))
        return b

    def generate(self, full_rows: int, incremental_rows: int) -> tuple[Batch, Batch]:
        full = self._batch(list(FULL_FILE_YEARS), full_rows)
        ids = sorted(self._loaded)
        n_rev = int(incremental_rows * REVISION_SHARE * 1.5)
        picked = self.rng.sample(ids, min(n_rev, len(ids)))
        revisions = [(i, self._loaded[i]) for i in picked]
        inc = self._batch([INCREMENTAL_FILE_YEARS], incremental_rows, revisions)
        return full, inc


def expected_star(batches: list[Batch]) -> dict:
    """Star-schema state after upserting each batch in turn.

    The fact upsert updates measures but never the waterBodyId foreign
    key, so a re-keyed or revised row keeps the ocean it was first
    loaded with.
    """
    fact, names = star_rows(batches)
    per_ocean: dict[str, int] = {}
    for ocean, _s in fact.values():
        per_ocean[ocean or ""] = per_ocean.get(ocean or "", 0) + 1
    return {
        "fact_rows": len(fact),
        "count_sum": sum(s.count for _o, s in fact.values()),
        "locations": len(names),
        "species": 1,
        "per_ocean": per_ocean,
    }


def star_rows(batches: list[Batch]) -> tuple[dict[str, tuple[str | None, Survivor]], list]:
    """Fact rows keyed by id as (ocean, latest survivor), and location
    names in first-encounter order."""
    fact: dict[str, tuple[str | None, Survivor]] = {}
    names: list = []
    for b in batches:
        for occ_id, s in sorted(
            b.keyed_survivors(), key=lambda kv: (kv[1].channel, kv[1].file_idx, kv[1].pos)
        ):
            if s.ocean not in names:
                names.append(s.ocean)
            old = fact.get(occ_id)
            fact[occ_id] = (old[0] if old else s.ocean, s)
    return fact, names


def _star_tuples(batches: list[Batch]) -> dict[str, list[tuple]]:
    fact, names = star_rows(batches)
    loc_id = {name: i for i, name in enumerate(names)}
    occurrences = [
        (occ_id, s.event_date, loc_id[ocean], s.lat, s.lon, SPECIES_ID, s.count,
         *s.parts, s.date_is_valid)
        for occ_id, (ocean, s) in fact.items()
    ]
    return {
        "locations": [(i, name) for name, i in loc_id.items()],
        "species": [(SPECIES_ID, SPECIES, VERNACULAR_SEED)],
        "occurrences": occurrences,
    }


def write_star_sqlite(batches: list[Batch], db_path: str, ddl: dict[str, str]) -> None:
    """The star schema a correct load of ``batches`` leaves in SQLite."""
    import sqlite3

    conn = sqlite3.connect(db_path)
    try:
        for stmt in ddl.values():
            conn.execute(stmt)
        for table, rows in _star_tuples(batches).items():
            marks = ",".join("?" * len(rows[0]))
            conn.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)
        conn.commit()
    finally:
        conn.close()


def write_star_parquet(batches: list[Batch], out_dir: str) -> None:
    """The same star as parquet tables, typed as the serving schema."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    tuples = _star_tuples(batches)
    os.makedirs(out_dir, exist_ok=True)
    i32 = pa.int32()
    schemas = {
        "locations": pa.schema([("id", i32), ("waterBody", pa.string())]),
        "species": pa.schema(
            [("id", i32), ("speciesName", pa.string()), ("vernacularName", pa.string())]
        ),
        "occurrences": pa.schema(
            [("id", pa.string()), ("eventDate", pa.string()), ("waterBodyId", i32),
             ("latitude", pa.decimal128(9, 7)), ("longitude", pa.decimal128(10, 7)),
             ("speciesId", i32), ("individualCount", i32)]
            + [(c, i32) for c in ("start_year", "start_month", "start_day",
                                  "end_year", "end_month", "end_day")]
            + [("date_is_valid", pa.bool_())]
        ),
    }
    q = decimal.Decimal("0.0000001")
    for table, rows in tuples.items():
        cols = list(zip(*rows))
        if table == "occurrences":
            cols[3] = [decimal.Decimal(repr(v)).quantize(q) for v in cols[3]]
            cols[4] = [decimal.Decimal(repr(v)).quantize(q) for v in cols[4]]
        schema = schemas[table]
        pq.write_table(
            pa.table([pa.array(c, f.type) for c, f in zip(cols, schema)], schema=schema),
            os.path.join(out_dir, f"{table}.parquet"),
        )


def write_batch(batch: Batch, data_dir: str) -> None:
    whale_dir = os.path.join(data_dir, WHALE)
    os.makedirs(whale_dir, exist_ok=True)
    for name, rows in batch.files:
        with open(os.path.join(whale_dir, name), "w") as f:
            json.dump({"results": rows}, f, indent=1)


def write_oceans(oceans: list[Ocean], path: str) -> None:
    with open(path, "w") as f:
        json.dump([[o.name, o.wkt()] for o in oceans], f)
