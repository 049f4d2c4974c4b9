"""Validation split (SURVEY.md §2.2 P1-P3, §1.3).

The reference validates row-by-row with Pydantic and routes failures to
a side error channel with per-field diagnostics (reference
``whalefinder/validate.py:163-190``). Here the same contract is a
column-predicate split: one ``details`` array column computed by native
expressions, then two filters — so validation is a Catalyst-optimizable
operator, scales with the data, and never leaves the JVM.

Diagnostics mirror the trimmed Pydantic error dicts
``{type, loc, msg}`` (validate.py:180-183).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whale_sightings_spark.functions.dates import (
    is_bad_date_format,
    normalize_event_date,
    parse_event_date,
)

#: deterministic ingest-order columns stamped at source (SURVEY §7.3.1) —
#: every order-dependent operator downstream sorts on these, never on
#: physical row position.
ORDINAL_COLS = ("_ingest_file", "_ingest_pos")


def with_ingest_ordinal(df: DataFrame) -> DataFrame:
    """Stamp the deterministic ingest ordinal at source.

    ``_ingest_file`` is the input file path (empty for in-memory data);
    ``_ingest_pos`` is the row position within that file. The pair is a
    total order over the input that is stable across partitioning —
    unlike ``monotonically_increasing_id`` alone, which shifts when the
    scan splits differently. No global sort is ever materialized; the
    ordinal is only used inside window ``orderBy`` clauses.
    """
    if all(c in df.columns for c in ORDINAL_COLS):
        return df
    return df.withColumns(
        {
            "_ingest_file": F.coalesce(F.input_file_name(), F.lit("")),
            # per-partition monotonic id: stable for a fixed file split;
            # files are read in order within a partition
            "_ingest_pos": F.monotonically_increasing_id(),
        }
    )


def _detail(cond: Column, typ: str, loc: str, msg: str) -> Column:
    return F.when(
        cond,
        F.struct(
            F.lit(typ).alias("type"), F.lit(loc).alias("loc"), F.lit(msg).alias("msg")
        ),
    )


def occurrence_validation_details(df: DataFrame) -> Column:
    """The ``details`` array: one {type, loc, msg} per failed field.

    Field rules (reference validate.py:17-63):
    - eventDate required; 8 bad-format regexes reject; else must parse
    - decimalLatitude/'Longitude required, float-coercible
    - species required; speciesid required, int-coercible
    - individualCount optional but must be int-coercible when present
    """
    event = F.col("eventDate")
    checks = [
        _detail(event.isNull(), "missing", "eventDate", "Field required"),
        _detail(
            event.isNotNull() & is_bad_date_format(event),
            "value_error",
            "eventDate",
            "Value error, eventDate is a bad format.",
        ),
        _detail(
            event.isNotNull()
            & ~is_bad_date_format(event)
            & parse_event_date(event).isNull(),
            "value_error",
            "eventDate",
            "Value error, eventDate could not be parsed.",
        ),
        _detail(
            F.col("decimalLatitude").isNull(), "missing", "decimalLatitude", "Field required"
        ),
        _detail(
            F.col("decimalLatitude").isNotNull()
            & F.col("decimalLatitude").try_cast("double").isNull(),
            "float_parsing",
            "decimalLatitude",
            "Input should be a valid number, unable to parse string as a number",
        ),
        _detail(
            F.col("decimalLongitude").isNull(), "missing", "decimalLongitude", "Field required"
        ),
        _detail(
            F.col("decimalLongitude").isNotNull()
            & F.col("decimalLongitude").try_cast("double").isNull(),
            "float_parsing",
            "decimalLongitude",
            "Input should be a valid number, unable to parse string as a number",
        ),
        _detail(F.col("species").isNull(), "missing", "species", "Field required"),
        _detail(F.col("speciesid").isNull(), "missing", "speciesid", "Field required"),
        _detail(
            F.col("speciesid").isNotNull() & F.col("speciesid").try_cast("int").isNull(),
            "int_parsing",
            "speciesid",
            "Input should be a valid integer, unable to parse string as an integer",
        ),
        _detail(
            F.col("individualCount").isNotNull()
            & F.col("individualCount").try_cast("int").isNull(),
            "int_parsing",
            "individualCount",
            "Input should be a valid integer, unable to parse string as an integer",
        ),
    ]
    return F.array_compact(F.array(*checks))


def flag_occurrences(df: DataFrame) -> DataFrame:
    """Raw occurrences plus the ``details`` array — the frame both
    channels of :func:`split_flagged` filter."""
    return df.withColumn("details", occurrence_validation_details(df))


def validate_occurrences(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split raw occurrences into (valid, errors).

    Valid channel: typed columns, eventDate ISO-normalized back to a
    *string* (the §1.4 parity trap — validate.py:178 serializes the
    parsed date with model_dump(mode='json')).

    Error channel: original raw values + the ``details`` array.
    """
    return split_flagged(flag_occurrences(df))


def split_flagged(flagged: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The (valid, errors) split of a :func:`flag_occurrences` frame."""
    passthrough = [c for c in flagged.columns if c in ORDINAL_COLS]
    valid = flagged.filter(F.size("details") == 0).select(
        F.col("occurrenceID"),
        normalize_event_date(F.col("eventDate")).alias("eventDate"),
        F.col("verbatimEventDate"),
        F.col("decimalLatitude").cast("double").alias("decimalLatitude"),
        F.col("decimalLongitude").cast("double").alias("decimalLongitude"),
        F.col("waterBody"),
        F.col("species"),
        F.col("speciesid").cast("int").alias("speciesid"),
        F.col("vernacularName"),
        F.coalesce(F.col("individualCount").cast("int"), F.lit(1)).alias("individualCount"),
        F.col("basisOfRecord"),
        F.col("bibliographicCitation"),
        *passthrough,
    )
    errors = flagged.filter(F.size("details") > 0)
    return valid, errors


def validation_counts(valid: DataFrame, errors: DataFrame) -> tuple[int, int]:
    """The reference's accounting invariant (validate.py:189):
    'Validated: N, Errors: M' where M counts per-field details."""
    n_valid = valid.count()
    n_details = errors.select(F.sum(F.size("details")).alias("n")).collect()[0]["n"] or 0
    return n_valid, int(n_details)
