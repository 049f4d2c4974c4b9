"""The ETL path in the CLI order, and the checks on its outputs.

``process_pass`` is the CLI ``process`` command: ``run_pipeline`` (with
the ocean polygons) -> ``write_curated_parquet`` -> ``write_error_json``.
``load_star`` is the rest of the ``db`` command: ``build_star_schema``
with the locations read back from the database, then
``load_star_schema`` into SQLite.
"""

from __future__ import annotations

import glob
import json
import os
import sqlite3

import pyarrow.parquet as pq

from whale_sightings_spark.operators.spatial import oceans_from_wkt
from whale_sightings_spark.plans.pipeline import (
    PipelineContext,
    PipelineResult,
    build_star_schema,
    run_pipeline,
)
from whale_sightings_spark.sources.ddl import connection_factory_for_url, load_star_schema
from whale_sightings_spark.sources.files import write_curated_parquet, write_error_json

import gen_raw
from tracing import Tracer


def read_existing_locations(spark, db_path: str):
    """The ``locations`` dim already in the database, as a DataFrame."""
    if not os.path.exists(db_path):
        return None
    conn = sqlite3.connect(db_path)
    try:
        rows = conn.execute("SELECT id, waterBody FROM locations").fetchall()
    except sqlite3.OperationalError:
        return None
    finally:
        conn.close()
    return spark.createDataFrame(rows, "id int, waterBody string")


def process_pass(
    spark,
    tracer: Tracer,
    data_dir: str,
    oceans_path: str,
    out_dir: str,
    startdate: str | None,
    enddate: str | None,
) -> PipelineResult:
    """Raw zone to curated parquet and error export (the CLI ``process``
    command), each public call in its own span. Returns the pipeline's
    result."""
    with open(oceans_path) as f:
        named_wkt = [tuple(x) for x in json.load(f)]
    ctx = PipelineContext(
        whale=gen_raw.WHALE, startdate=startdate, enddate=enddate, data_dir=data_dir
    )
    with tracer.span("plans.pipeline.run_pipeline"):
        result = run_pipeline(spark, ctx, oceans_from_wkt(spark, named_wkt))
    with tracer.span("sources.files.write_curated_parquet"):
        write_curated_parquet(result.cleaned, os.path.join(out_dir, "curated"))
    with tracer.span("sources.files.write_error_json"):
        write_error_json(result.unrepaired_errors, os.path.join(out_dir, "errors"))
    return result


def load_star(spark, tracer: Tracer, cleaned, db_path: str) -> tuple[int, int]:
    """build_star_schema against the locations already in ``db_path``,
    then load_star_schema into it. Returns the fact rows and all rows
    loaded."""
    existing = read_existing_locations(spark, db_path)
    with tracer.span("operators.dims.star"):
        star = build_star_schema(cleaned, existing)
        for df in star.values():
            df.write.format("noop").mode("overwrite").save()
    star = {k: v.localCheckpoint() for k, v in star.items()}
    n_fact = star["occurrences"].count()
    factory, dialect = connection_factory_for_url(f"sqlite:///{db_path}")
    with tracer.span("sources.ddl.load_star_schema"):
        load_star_schema(star, factory, dialect)
    return n_fact, sum(df.count() for df in star.values())


def _expecter(problems: list[str]):
    def expect(what: str, got, want) -> None:
        if got != want:
            problems.append(f"{what}: got {got!r}, expected {want!r}")

    return expect


def check_curated(out_dir: str, batch_truth: dict) -> list[str]:
    """Compare curated parquet and error export with the generator's
    ground truth. Returns one message per mismatch."""
    problems: list[str] = []
    expect = _expecter(problems)
    t = batch_truth
    curated = pq.read_table(
        os.path.join(out_dir, "curated"), columns=["_channel", "occurrenceID", "waterBody"]
    )
    channels = curated.column("_channel").to_pylist()
    n_valid = sum(1 for c in channels if c == 0)
    n_repaired = sum(1 for c in channels if c == 1)
    n_unrepaired = 0
    for part in glob.glob(os.path.join(out_dir, "errors", "*.json")):
        with open(part) as f:
            n_unrepaired += sum(1 for line in f if line.strip())
    # conservation: raw = valid + error rows; errors = repaired + unrepaired
    expect("raw = valid + errors", n_valid + t["dup_rows"] + n_repaired + n_unrepaired, t["raw_rows"])
    expect("errors = repaired + unrepaired", n_repaired + n_unrepaired, t["error_rows"])
    expect("curated valid rows", n_valid, t["curated_valid_channel"])
    expect("repaired rows", n_repaired, t["repaired_rows"])
    expect("unrepaired rows", n_unrepaired, t["unrepaired_rows"])
    ids = curated.column("occurrenceID").to_pylist()
    expect("re-keyed null ids", sorted(int(i) for i in ids if i.startswith("-")),
           list(range(-t["null_id_rows"], 0)))
    per_ocean: dict[str, int] = {}
    for wb in curated.column("waterBody").to_pylist():
        per_ocean[wb or ""] = per_ocean.get(wb or "", 0) + 1
    expect("curated per-ocean counts", per_ocean, t["per_ocean"])
    return problems


def check_star(db_path: str, star_truth: dict) -> list[str]:
    """Compare the SQLite star with the expected state after the load."""
    problems: list[str] = []
    expect = _expecter(problems)
    conn = sqlite3.connect(db_path)
    try:
        fact_rows, count_sum = conn.execute(
            "SELECT COUNT(*), SUM(individualCount) FROM occurrences"
        ).fetchone()
        expect("fact rows", fact_rows, star_truth["fact_rows"])
        expect("fact individualCount sum", count_sum, star_truth["count_sum"])
        expect("location rows", conn.execute("SELECT COUNT(*) FROM locations").fetchone()[0],
               star_truth["locations"])
        expect("species rows", conn.execute("SELECT COUNT(*) FROM species").fetchone()[0],
               star_truth["species"])
        db_ocean = dict(
            (wb or "", n)
            for wb, n in conn.execute(
                "SELECT l.waterBody, COUNT(*) FROM occurrences o "
                "LEFT JOIN locations l ON o.waterBodyId = l.id GROUP BY l.waterBody"
            )
        )
        expect("star per-ocean counts", db_ocean, star_truth["per_ocean"])
    finally:
        conn.close()
    return problems
