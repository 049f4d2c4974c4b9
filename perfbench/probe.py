"""Per-layer probes for the traced run.

Each layer is timed from outside, through the noop sink, on its own
input materialized beforehand with ``localCheckpoint``, so a span holds
that layer's work and planning and nothing upstream of it.
"""

from __future__ import annotations

import json
import os
import shutil
import sqlite3
import time

from pyspark.sql import DataFrame

from whale_sightings_spark.functions.dates import with_date_parts
from whale_sightings_spark.operators.clean import (
    dedup_keep_first,
    explode_error_details,
    fill_in,
    merge_channels,
    process_error_data,
    regroup_error_details,
    with_date_validity,
)
from whale_sightings_spark.operators.spatial import oceans_from_wkt, spatial_join_water_body
from whale_sightings_spark.operators.validate import validate_occurrences
from whale_sightings_spark.plans.notebook import sightings_per_year, species_sightings
from whale_sightings_spark.sources.files import (
    match_raw_files,
    read_raw_occurrences,
    write_curated_parquet,
    write_error_json,
)

import etl
import gen_raw
from tracing import Tracer


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def fact_rows(db_path: str) -> int:
    conn = sqlite3.connect(db_path)
    try:
        return conn.execute("SELECT COUNT(*) FROM occurrences").fetchone()[0]
    finally:
        conn.close()


def etl_layers(spark, tracer: Tracer, d: dict, result) -> tuple[dict[str, float], list[str]]:
    """Times every ETL layer on the run's raw zone, then loads the
    resulting star into a copy of the full-load snapshot. ``d`` holds
    the paths and date bounds of the run's inputs, ``result`` is the
    pipeline result of the run's last real pass. Returns the values
    that are not span durations (row counts, conflict share, planning
    time) and any mismatch of the loaded star with the ground truth."""
    with open(d["oceans"]) as f:
        named_wkt = [tuple(x) for x in json.load(f)]
    out: dict[str, float] = {}
    t = time.perf_counter()
    result.cleaned._jdf.queryExecution().executedPlan()
    out["plans.pipeline.plan_s"] = time.perf_counter() - t

    paths = match_raw_files(d["raw"], gen_raw.WHALE, d["startdate"], d["enddate"])
    with tracer.span("sources.files.scan"):
        raw = read_raw_occurrences(spark, paths)
        noop(raw)
    raw = raw.localCheckpoint()
    with tracer.span("operators.validate.split"):
        valid, errors = validate_occurrences(raw)
        noop(valid)
        noop(errors)
    valid, errors = valid.localCheckpoint(), errors.localCheckpoint()
    with tracer.span("functions.dates.parts"):
        valid = with_date_parts(valid, src="eventDate")
        noop(valid)
    valid = valid.localCheckpoint()
    with tracer.span("operators.clean.repair"):
        repaired, unrepaired = process_error_data(explode_error_details(errors))
        noop(repaired)
        noop(unrepaired)
    repaired, unrepaired = repaired.localCheckpoint(), unrepaired.localCheckpoint()
    merged = with_date_validity(merge_channels(valid, repaired)).localCheckpoint()
    with tracer.span("operators.clean.dedup"):
        deduped = dedup_keep_first(merged)
        noop(deduped)
    deduped = deduped.localCheckpoint()
    with tracer.span("operators.clean.fill"):
        filled = fill_in(deduped, gen_raw.WHALE)
        noop(filled)
    filled = filled.localCheckpoint()
    n_rows = filled.count()
    with tracer.span("operators.spatial.join"):
        cleaned = spatial_join_water_body(filled, oceans_from_wkt(spark, named_wkt))
        noop(cleaned)
    out["operators.spatial.rows"] = n_rows
    cleaned = cleaned.localCheckpoint()

    with tracer.span("sources.files.write_curated_parquet"):
        write_curated_parquet(cleaned, os.path.join(d["dir"], "probe_curated"))
    with tracer.span("sources.files.write_error_json"):
        write_error_json(regroup_error_details(unrepaired), os.path.join(d["dir"], "probe_errors"))

    db = os.path.join(d["dir"], "probe.db")
    shutil.copy(d["snapshot"], db)
    before = fact_rows(db)
    n_fact, n_rows = etl.load_star(spark, tracer, cleaned, db)
    out["sources.ddl.rows"] = n_rows
    out["sources.ddl.conflict_share"] = 1 - (fact_rows(db) - before) / n_fact
    problems = etl.check_star(db, gen_raw.expected_star([d["full"], d["window"]]))
    return out, problems


def query_layers(spark, tracer: Tracer, names: list[str], qfns: dict, d: dict) -> dict[str, list]:
    """Planning time and noop execution time for each named query, and
    the notebook pair over the curated star."""
    plan, execute = [], []
    for name in names:
        df = qfns[name](spark, d["tables"])
        t = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        plan.append(time.perf_counter() - t)
        with tracer.span("plans.queries.execute") as s:
            noop(qfns[name](spark, d["tables"]))
        execute.append(s.seconds)
    with tracer.span("plans.notebook.execute") as s:
        noop(notebook_query(read_star(spark, d["star"])))
    return {"plan": plan, "exec": execute, "notebook": [s.seconds]}


def read_star(spark, star_dir: str) -> dict[str, DataFrame]:
    return {t: spark.read.parquet(os.path.join(star_dir, f"{t}.parquet"))
            for t in ("occurrences", "species", "locations")}


def notebook_query(star: dict) -> DataFrame:
    return sightings_per_year(
        species_sightings(star["occurrences"], star["species"], star["locations"],
                          gen_raw.SPECIES_ID)
    )
