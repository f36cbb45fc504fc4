"""Pure Column-expression functions mirroring the reference's scalar semantics.

Each function returns a ``pyspark.sql.Column`` (no UDFs — everything stays
inside whole-stage codegen). Reference citations per SURVEY.md §2 Part A.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

from etl_data_processor_spark.ops.arrays import map_lookup

# Danish month-name -> month number, as in the reference's month map
# (main.py:29-42) used by its approval-date extractor (main.py:217-232).
DANISH_MONTHS: dict[str, str] = {
    "januar": "01",
    "februar": "02",
    "marts": "03",
    "april": "04",
    "maj": "05",
    "juni": "06",
    "juli": "07",
    "august": "08",
    "september": "09",
    "oktober": "10",
    "november": "11",
    "december": "12",
}


def conditional_concat(url: Column, base_url: str, prefix: str = "/") -> Column:
    """A4 (main.py:114-118): prefix ``base_url`` iff the href is relative."""
    return F.when(url.startswith(prefix), F.concat(F.lit(base_url), url)).otherwise(url)


def classify_first_match(text: Column, patterns: Sequence[tuple[str, str]]) -> Column:
    """A5 (main.py:106-133): first-match-wins regex classification.

    ``patterns`` is an ordered list of (java_regex, label); case-insensitive
    via the ``(?i)`` inline flag; returns NULL when nothing matches (the
    reference then drops the row). Compiles to a short-circuiting CASE WHEN
    chain — pure codegen, no UDF.
    """
    expr = F.lit(None).cast("string")
    # Build from the last pattern backwards so the first pattern is the
    # outermost WHEN (first-match-wins precedence, main.py:127-131).
    for pattern, label in reversed(list(patterns)):
        expr = F.when(text.rlike(f"(?i){pattern}"), F.lit(label)).otherwise(expr)
    return expr


# The reference's decision-status patterns, ordered (main.py:121-125).
# Negative lookbehinds keep plain "Anbefalet" from swallowing the others.
DECISION_PATTERNS: list[tuple[str, str]] = [
    (r"Ikke\s+anbefalet", "Ikke anbefalet"),
    (r"Delvist\s+anbefalet", "Delvist anbefalet"),
    (r"(?<!Ikke\s)(?<!Delvist\s)Anbefalet", "Anbefalet"),
]


def split_first_separator(
    text: Column, separators: Sequence[str] = (" - ", " – ", " — ")
) -> tuple[Column, Column]:
    """A7 (main.py:147-156): split a heading on the FIRST occurrence of any
    separator into (head, tail); tail is NULL when no separator occurs.

    Implemented as a single regex split limited to 2 parts.
    """
    sep_re = "|".join("(?:%s)" % s.replace("-", "\\-") for s in separators)
    parts = F.split(text, sep_re, 2)
    head = F.trim(parts.getItem(0))
    tail = F.when(F.size(parts) > 1, F.trim(parts.getItem(1)))
    return head, tail


def coalesce_chain(*exprs: Column) -> Column:
    """A8/A10 (main.py:161-169, 246-256): ordered fallback chain. Empty
    strings count as missing (the reference treats '' and None alike)."""
    cleaned = [F.nullif(e, F.lit("")) for e in exprs]
    return F.coalesce(*cleaned)


def normalize_danish_date(text: Column) -> Column:
    """A9 (main.py:217-232): extract 'Godkendt den <d>. <danish-month> <yyyy>'
    and normalize to 'YYYY-MM-DD' (zero-padded day, month via the Danish map).

    The month map is applied with :func:`arrays.map_lookup` — a literal
    broadcast lookup, deterministic on every JVM locale (SURVEY.md §7 risk
    register says avoid ``to_date(locale=da)``).
    """
    pattern = r"(?i)Godkendt den (\d{1,2})\.? ([a-zæøå]+) (\d{4})"
    day = F.regexp_extract(text, pattern, 1)
    month_name = F.lower(F.regexp_extract(text, pattern, 2))
    year = F.regexp_extract(text, pattern, 3)
    month = map_lookup(DANISH_MONTHS, month_name)
    return F.when(
        (day != "") & month.isNotNull(),
        F.concat_ws("-", year, month, F.lpad(day, 2, "0")),
    )


def fallback_date(text: Column) -> Column:
    """A10 (main.py:246-256): try d.m.yyyy-style then yyyy.m.d-style, first
    match wins; NULL if neither."""
    p1 = F.regexp_extract(text, r"\d{1,2}[./-]\d{1,2}[./-]\d{4}", 0)
    p2 = F.regexp_extract(text, r"\d{4}[./-]\d{1,2}[./-]\d{1,2}", 0)
    return F.coalesce(F.nullif(p1, F.lit("")), F.nullif(p2, F.lit("")))


def extract_atc_code(text: Column) -> Column:
    """A11 (main.py:234-244): ATC code token ``[A-Z]\\d{2}[A-Z]{2}\\d{2}``
    anywhere in the text; NULL when absent."""
    return F.nullif(
        F.regexp_extract(text, r"\b([A-Z]\d{2}[A-Z]{2}\d{2})\b", 1), F.lit("")
    )


def ceil_div(numerator: Column, denominator: int) -> Column:
    """A2 (main.py:63-83): page count = ceil(results / page_size). Integer
    ceil-div keeps it exact (no float round-trip)."""
    return ((numerator + denominator - 1) / denominator).cast("long")
