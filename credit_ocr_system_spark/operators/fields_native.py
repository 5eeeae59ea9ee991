"""Field matching + cleaning + validation as native DataFrame ops.

The reference resolved fields with nested-loop first-match scans over
in-memory lists (``/root/reference/src/llm/field_extractor.py:222-262``)
and per-field Python validation (``validation.py:6-94``). Here the same
semantics are relational (SURVEY.md §2.4 J1-J3, §2.2 P10-P20):

* the 21-row field config is always the **broadcast** side of a
  contains-predicate theta join — never a shuffle join;
* "first match in document order" is a deterministic
  ``row_number() == 1`` over (url, field) ordered by emission index,
  with pair matches (J1) ranked before line-fallback matches (J2);
* cleaning/validation are pure column expressions — whole-stage
  codegen, zero Python in the hot path.

This is the driver queries' operator. The extraction job commits the
kernel's own fields instead (``extract_pages(..., fields=True)``,
``plans.pipeline.kernel_fields``), because these expressions read some
values differently from ``kernel/fields.py`` and so from the
reference ``validation.py`` it mirrors:

* ``"1_999"`` as a number: Python ``float()`` accepts the underscore,
  so the kernel finds it valid; ``try_cast`` fails and this tail
  reports ``"Value must be a number"``.
* ``"١٢٣"`` (Arabic-Indic digits): ``str.isdigit()`` keeps them and
  the kernel's ``clean_num`` is 123; ``[^0-9]`` strips them and this
  tail's is null.
* ``"\tACME GmbH\xa0"``: ``str.strip()`` drops the tab and the NBSP;
  Spark ``trim`` strips only spaces, so this tail keeps both.
* ``""``: the kernel cleans an empty value to null; this tail's
  ``clean_str`` is ``""`` (and ``clean_bool`` is false).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config.document_types import CREDIT_REQUEST_FIELDS


def field_config_df(spark: SparkSession) -> DataFrame:
    """The 21-row field-spec table (broadcast side of every join)."""
    rows = [
        {
            "field_idx": i,
            "field_name": s.name,
            "candidates": list(s.candidates),
            "clean_type": s.clean_type,
            "vtype": s.vtype,
            "vmin": float(s.vmin) if s.vmin is not None else None,
            "vmax": float(s.vmax) if s.vmax is not None else None,
            # messages carry the Python repr of the config bound, so the
            # kernel and the native path emit identical strings
            "min_msg": (f"Value must be at least {s.vmin}"
                        if s.vmin is not None else None),
            "max_msg": (f"Value must be at most {s.vmax}"
                        if s.vmax is not None else None),
            "pattern": s.pattern,
        }
        for i, s in enumerate(CREDIT_REQUEST_FIELDS)
    ]
    schema = ("field_idx int, field_name string, candidates array<string>, "
              "clean_type string, vtype string, vmin double, vmax double, "
              "min_msg string, max_msg string, pattern string")
    return spark.createDataFrame(rows, schema=schema)


def _contains_any(text_col, candidates_col):
    """`any(candidate in text)` — the reference's label predicate."""
    return F.exists(candidates_col,
                    lambda c: F.contains(F.lower(text_col), c))


def match_fields_native(extracted: DataFrame,
                        config: DataFrame) -> DataFrame:
    """First-match field resolution (J1 pairs → J2 elements fallback).

    Input: the extraction-stage output (url, pairs, elements, ...).
    Output: one row per (url, matched field):
    ``url, field_idx, field_name, value, confidence, page,
    bounding_box, source``.
    """
    cfg = F.broadcast(config)

    # Both match sources come from ONE pass over the extraction output:
    # re-shape pairs and elements into a common struct, concat, explode.
    # (A union of two selects over `extracted` would make Catalyst run
    # the upstream kernel stage twice — visible as two MapInArrow scans
    # in the physical plan.)
    def _cand(idx, text, value, conf, page, bbox, priority, source):
        return F.struct(
            idx.cast("int").alias("match_idx"),
            text.alias("match_text"),
            value.alias("value"),
            conf.alias("confidence"),
            page.cast("int").alias("page"),
            bbox.alias("bounding_box"),
            F.lit(priority).alias("priority"),
            F.lit(source).alias("source"),
        )

    pair_cands = F.transform(
        "pairs",
        lambda p: _cand(p["pair_idx"], p["label"], p["value"],
                        p["confidence"], p["page"], p["bounding_box"],
                        0, "pair"))           # J1 outranks J2
    line_cands = F.transform(
        "elements",
        lambda e: _cand(e["elem_idx"], e["text"], e["text"],
                        e["confidence"], e["page_num"], e["bbox"],
                        1, "line"))
    candidates = extracted.select(
        "url",
        F.explode(F.concat(pair_cands, line_cands)).alias("c"),
    ).select("url", "c.*")

    joined = candidates.join(
        cfg, _contains_any(F.col("match_text"), F.col("candidates")))

    first_match = Window.partitionBy("url", "field_name").orderBy(
        "priority", "match_idx")
    return (
        joined
        .withColumn("rn", F.row_number().over(first_match))
        .where(F.col("rn") == 1)
        .select("url", "field_idx", "field_name", "clean_type", "vtype",
                "vmin", "vmax", "min_msg", "max_msg", "pattern", "value",
                "confidence", "page", "bounding_box", "source")
    )


def missing_fields_native(extracted: DataFrame,
                          matched: DataFrame) -> DataFrame:
    """Per-url missing field list in spec order (reference O3)."""
    expected = F.array(*[F.lit(s.name) for s in CREDIT_REQUEST_FIELDS])
    present = matched.groupBy("url").agg(
        F.collect_set("field_name").alias("present"))
    return (
        extracted.select("url")
        .join(present, "url", "left")
        .select(
            "url",
            F.array_except(
                expected, F.coalesce("present", F.array())
            ).alias("missing_fields"),
        )
    )


# --- cleaning (reference clean_value, P10-P15) -------------------------

def _clean_currency(v):
    stripped = F.regexp_replace(
        F.regexp_replace(F.regexp_replace(v, "€", ""), " ", ""), ",", ".")
    digits = F.regexp_replace(stripped, r"[^0-9.]", "")
    return F.when(digits == "", None).otherwise(digits.try_cast("double"))


def _clean_area(v):
    stripped = F.regexp_replace(F.regexp_replace(v, "m²", ""), " ", "")
    return F.when(stripped == "", None).otherwise(stripped.try_cast("double"))


def _clean_number(v):
    digits = F.regexp_replace(v, r"[^0-9]", "")
    return F.when(digits == "", None).otherwise(digits.try_cast("bigint"))


def with_clean_values(matched: DataFrame) -> DataFrame:
    """Typed cleaned-value columns (no lossy string re-formatting)."""
    v = F.col("value")
    ct = F.col("clean_type")
    return (
        matched
        .withColumn(
            "clean_str",
            F.when(ct == "string", F.trim(v))
             .when(ct == "date",
                   F.when(v.rlike(r"^\d{2}\.\d{2}\.\d{4}$"), v)))
        .withColumn(
            "clean_num",
            F.when(ct == "currency", _clean_currency(v))
             .when(ct == "area", _clean_area(v))
             .when(ct == "number", _clean_number(v).cast("double")))
        .withColumn(
            "clean_bool",
            F.when(ct == "boolean", F.contains(F.lower(v), F.lit("[x]"))))
    )


# --- validation (reference validate_field, P17-P20) --------------------

def with_validation(matched: DataFrame) -> DataFrame:
    """``is_valid`` + ``errors`` columns with the reference's messages."""
    v = F.col("value")
    # German number normalization: "1.234,56" → "1234.56"
    norm = F.regexp_replace(F.regexp_replace(v, r"\.", ""), ",", ".")
    as_num = norm.try_cast("double")

    num_err = F.when(
        (F.col("vtype") == "number") & as_num.isNull(),
        F.lit("Value must be a number"))
    bool_err = F.when(
        (F.col("vtype") == "boolean")
        & ~F.lower(v.cast("string")).isin("true", "false"),
        F.lit("Value must be a boolean"))
    min_err = F.when(
        (F.col("vtype") == "number") & F.col("vmin").isNotNull()
        & as_num.isNotNull() & (as_num < F.col("vmin")),
        F.col("min_msg"))
    max_err = F.when(
        (F.col("vtype") == "number") & F.col("vmax").isNotNull()
        & as_num.isNotNull() & (as_num > F.col("vmax")),
        F.col("max_msg"))
    pat_err = F.when(
        F.col("pattern").isNotNull()
        & ~F.regexp_like(v.cast("string"), F.col("pattern")),
        F.lit("Value does not match required pattern"))

    errors = F.filter(
        F.array(num_err, bool_err, min_err, max_err, pat_err),
        lambda e: e.isNotNull())
    return (
        matched
        .withColumn("errors", errors)
        .withColumn("is_valid", F.size("errors") == 0)
    )


def fields_table(extracted: DataFrame, config: DataFrame) -> DataFrame:
    """Full relational tail: match → clean → validate."""
    matched = match_fields_native(extracted, config)
    return with_validation(with_clean_values(matched)).select(
        "url", "field_idx", "field_name", "value", "confidence", "page",
        "bounding_box", "source", "clean_str", "clean_num", "clean_bool",
        "is_valid", "errors",
    )
