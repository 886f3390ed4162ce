"""Stage 5 — deterministic 18-field record extraction + validation from
the reassembled span text.

Replaces the reference's Gemini call with a deterministic scrape of the
``Label: value`` lines (the same layout its own mock tests assert on,
tests/utils/mock_generators.py:18-39), then applies the pydantic model's
validation semantics (app/models/extraction.py:48-161,183-233) as pure
column expressions:

- any validation error poisons the whole record to the
  VALIDATION_FAILED fallback model (extraction.py:222-228) and sets
  status='partial_success' (app/services/pdf_processor.py:113);
- currency/limit validators are passthrough (their negative-limit raise
  is swallowed by their own except, extraction.py:90-101);
- the date-relationship check appends a warning
  (extraction.py:195-206).

Everything here is Catalyst-codegen'd column expressions — no UDFs.
Each stage's Column trees are built once per process (see
functions/memo.py): a call replays them as the same sequence of
``select("*", …)``/``drop`` projections, so it costs only its
DataFrame calls, not the construction of the Columns behind them.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import EMPTY_VALUE, FIELD_NAMES, VALIDATION_FAILED
from ..corpus import FIELD_LABELS
from ..functions.normalizers import (
    DATE_RE,
    clean_text_expr,
    normalize_boolean_model_expr,
    normalize_commission_expr,
    normalize_date_expr,
)
from ..functions.memo import column_memo

DOC_TEXT = "_doc_text"


def doc_text_expr(spans: Column) -> Column:
    """Reading text of a document: newline-joined text spans in span
    order (media skipped)."""
    texts = F.transform(
        F.filter(spans, lambda s: s["kind"] == F.lit("text")), lambda s: s["text"]
    )
    return F.array_join(texts, "\n")


_LABELS_ALT = "|".join(
    # longest-first so prefix labels can't shadow (the ':' requirement
    # already prevents wrong matches; ordering just avoids backtracking);
    # escaped so a label gaining a regex metacharacter can't corrupt the
    # alternation
    re.escape(label)
    for label in sorted((label for label, _f in FIELD_LABELS), key=len, reverse=True)
)
_SCRAPE_PAT = rf"(?m)^(?:{_LABELS_ALT}):[ \t]*.*$"
_KV = "_label_kv"
_RAW_COLS = [f"_raw_{f}" for f in FIELD_NAMES]


def scrape_raw_fields(df: DataFrame, spans_col: str = "spans") -> DataFrame:
    """Scrape 'Label: value' lines into raw field columns (null when the
    label is absent, '' when present-but-empty), cleaned per F9
    (clean_text).

    SINGLE-PASS: one `regexp_extract_all` with a label alternation
    scans the document text once, and the 18 field columns are O(1)
    lookups in the resulting map — the per-field formulation (18
    regexp_extract + 18 rlike full-text scans per row) measured as
    ~half the whole results-stage cost. First occurrence of a repeated
    label wins (explicit first-win dedup in the expression — no
    dependence on spark.sql.mapKeyDedupPolicy), matching
    regexp_extract's first-match semantics. Batched select projections,
    not withColumn chains (driver re-analysis cost)."""
    for cols in _scrape_projections(spans_col):
        df = df.select("*", *cols)
    return df.drop(_KV)


@column_memo
def _scrape_projections(spans_col: str) -> tuple[tuple[Column, ...], ...]:
    from ..functions.json_extract import first_win_entries

    lines = F.regexp_extract_all(F.col(DOC_TEXT), F.lit(_SCRAPE_PAT), 0)
    entries = F.transform(
        lines,
        lambda l: F.struct(
            F.substring_index(l, ":", 1).alias("key"),
            clean_text_expr(F.regexp_replace(l, r"^[^:]*:[ \t]*", "")).alias("value"),
        ),
    )
    raw_cols = tuple(
        F.element_at(F.col(_KV), F.lit(label)).alias(f"_raw_{fname}")
        for label, fname in FIELD_LABELS
    )
    return (
        (doc_text_expr(F.col(spans_col)).alias(DOC_TEXT),),
        (F.map_from_entries(first_win_entries(entries)).alias(_KV),),
        raw_cols,
    )


def validate_and_normalize(df: DataFrame) -> DataFrame:
    """Apply the model validators; emit the 18 final field columns plus
    validation_errors, warnings, status."""
    for cols in _validate_projections():
        df = df.select("*", *cols)
    return df


@column_memo
def _validate_projections() -> tuple[tuple[Column, ...], ...]:
    r = {f: F.col(f"_raw_{f}") for f in FIELD_NAMES}

    errors = []

    def err_when(cond: Column, msg: str) -> None:
        errors.append(F.when(cond, F.lit(msg)))

    # quote_number required nonempty (extraction.py:60-65 + pydantic
    # required field)
    qn = r["quote_number"]
    err_when(qn.isNull() | (F.trim(qn) == ""), "quote_number: Quote number cannot be empty")

    # dates: normalize via the model cascade; still-bad format => error
    # (extraction.py:48-58)
    norm_dates = {}
    for f in ("policy_effective_date", "policy_expiration_date"):
        v = r[f]
        norm = F.when(
            v.isNull() | (v == EMPTY_VALUE) | v.rlike(DATE_RE), v
        ).otherwise(normalize_date_expr(v))
        norm_dates[f] = norm
        err_when(
            norm.isNotNull() & (norm != EMPTY_VALUE) & ~norm.rlike(DATE_RE),
            f"{f}: Date must be in MM/DD/YYYY format",
        )

    # required name/address (extraction.py:67-72)
    for f in ("named_insured_name", "named_insured_address"):
        v = r[f]
        err_when(v.isNull() | (F.trim(v) == ""), f"{f}: This field is required and cannot be empty")

    # materialize validation_errors as its own projection so the 18
    # poison-when field expressions below reference the COLUMN (one
    # row-level evaluation, small driver plan) instead of inlining the
    # whole error-array expression 18x
    validation_errors = F.filter(F.array(*errors), lambda e: e.isNotNull()).alias(
        "validation_errors"
    )
    has_error = F.size(F.col("validation_errors")) > 0

    # normalized (pre-poison) values
    norm: dict[str, Column] = {}
    for f in FIELD_NAMES:
        v = r[f]
        if f in norm_dates:
            out = norm_dates[f]
        elif f in ("tria", "waiver_of_subrogation_type"):
            out = normalize_boolean_model_expr(v)
        elif f == "commission":
            out = normalize_commission_expr(v)
        elif f in ("quote_number", "named_insured_name", "named_insured_address"):
            out = F.trim(v)
        else:
            out = v
        if f == "issuing_carrier":
            norm[f] = F.when(v.isNull() | (v == EMPTY_VALUE), F.array().cast("array<string>")).otherwise(
                F.array(v)
            )
        else:
            norm[f] = F.coalesce(out, F.lit(EMPTY_VALUE))

    # poisoned fallback record (extraction.py:222-228)
    poisoned = {
        f: F.lit(VALIDATION_FAILED)
        if f in ("quote_number", "named_insured_name", "named_insured_address")
        else (F.array().cast("array<string>") if f == "issuing_carrier" else F.lit(EMPTY_VALUE))
        for f in FIELD_NAMES
    }

    fields = tuple(F.when(has_error, poisoned[f]).otherwise(norm[f]).alias(f) for f in FIELD_NAMES)

    # date-relationship warning (extraction.py:195-206) — only on valid
    # records
    eff, exp = F.col("policy_effective_date"), F.col("policy_expiration_date")
    both = (eff != EMPTY_VALUE) & (exp != EMPTY_VALUE)
    d_eff = F.try_to_date(eff, "MM/dd/yyyy")
    d_exp = F.try_to_date(exp, "MM/dd/yyyy")
    warning = F.when(
        ~has_error & both & d_eff.isNotNull() & d_exp.isNotNull() & (d_eff >= d_exp),
        F.lit("Policy effective date should be before expiration date"),
    ).when(
        ~has_error & both & (d_eff.isNull() | d_exp.isNull()),
        F.lit("Could not validate date relationship due to invalid date format"),
    )
    warnings = F.filter(F.array(warning), lambda w: w.isNotNull())

    # status (app/services/pdf_processor.py:113)
    status = F.when(has_error, "partial_success").otherwise(F.lit("success"))
    return (
        (validation_errors,),
        fields,
        (warnings.alias("warnings"), status.alias("status")),
    )


def extract_fields(documents: DataFrame, spans_col: str = "spans") -> DataFrame:
    """documents(doc_id, spans) → records with the 18 fields +
    validation_errors + warnings + status (+ _doc_text kept for the
    confidence stage)."""
    df = validate_and_normalize(scrape_raw_fields(documents, spans_col))
    return df.drop(*_RAW_COLS)
