"""Scalar preprocessing functions (SURVEY §2.3, F2/F4-F8/F12).

Each reimplements the semantics of a reference pandas ``Series.apply``
function as a native Spark expression (JVM-side, codegen'd) — pandas UDF only
where heuristics genuinely need Python (``extract_authors``).

Reference citations (behavioral parity targets, no code copied):
  extract_number              preprocessing.py:106-119
  extract_time/get_minutes    preprocessing.py:86-134
  transform_date              preprocessing.py:137-147
  extract_authors             preprocessing.py:228-252
  split_authors               preprocessing.py:255-257
  is_ip_or_mac                automatic_labeling.py:27-47

The reference's remove_space (F1, preprocessing.py:168-173) is the
``F.trim`` of ``pipeline.typed_claims``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

# Python re: r"[-+]?\d*\.\d+|\d+"  — first match wins; decimal preferred.
_NUM_RE = r"[-+]?\d*\.\d+|\d+"


def extract_number(c: Column) -> Column:
    """First float/int literal in the string -> double, else null (F2)."""
    m = F.regexp_extract(c.cast("string"), _NUM_RE, 0)
    return F.when(m != "", m.cast("double"))


def extract_time_minutes(c: Column) -> Column:
    """Strip parentheticals, take first H:MM -> minutes since midnight
    (F4 ∘ F5 ∘ F6). Null when no clock pattern found."""
    cleaned = F.regexp_replace(c.cast("string"), r"\(.*?\)", "")
    h = F.regexp_extract(cleaned, r"(\d{1,2}):(\d{2})", 1)
    m = F.regexp_extract(cleaned, r"(\d{1,2}):(\d{2})", 2)
    return F.when(h != "", h.cast("int") * 60 + m.cast("int")).cast("double")


def split_authors(c: Column) -> Column:
    """Split on ';' and trim each element (F8)."""
    return F.transform(F.split(c, ";"), lambda x: F.trim(x))


def extract_authors_py(text: object) -> list[str] | None:
    """Author-list heuristics with reference semantics (preprocessing.py:
    228-252): '; '-separated lists split directly; comma-heavy strings split
    on ', ' and each 'First Last' reordered to 'last, first'; otherwise a
    single lowercased author."""
    if text is None or not isinstance(text, str):
        return None
    if "; " in text:
        return [name.lower().strip() for name in text.split("; ")]
    if text.count(",") > 1 or (text.count(",") == 1 and len(text.split()) > 3):
        out = []
        for name in text.split(", "):
            parts = name.split()
            if len(parts) > 1:
                out.append(f"{parts[-1].lower()}, {' '.join(parts[:-1]).lower()}")
            else:
                out.append(name.lower())
        return out
    return [text.lower().strip()]


@pandas_udf(T.ArrayType(T.StringType()))
def extract_authors(s: pd.Series) -> pd.Series:
    """F7 as an Arrow-batched pandas UDF (heuristic-heavy -> Python, but
    never per-row over the wire)."""
    return s.map(extract_authors_py)


_IP_OR_MAC_RE = (
    r"^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"
    r"|([0-9A-Fa-f]{1,4}:){2,7}[0-9A-Fa-f:]*"
    r"|([0-9A-Fa-f]{2}[:-]){5}[0-9A-Fa-f]{2})$"
)


def is_ip_or_mac(c: Column) -> Column:
    """Bot-source heuristic (F12): IPv4/IPv6/MAC-shaped source names."""
    return c.rlike(_IP_OR_MAC_RE)


def normalize_quantity(c: Column) -> Column:
    """Unit-aware numeric normalization for the synthetic fixture's quantity
    variants ('324 m' / '32400 cm' / '+324metre') -> canonical metres.

    Mirrors the role of the reference's scale_units metadata preprocess
    (preprocessing.py:176-225): bring same-magnitude claims to one scale.
    """
    n = extract_number(c)
    return F.when(F.lower(c).rlike(r"\d\s*cm\b"), n / 100.0).otherwise(n)


# str(tuple) rendering of the reference's globecoordinate values:
# "(48.858333, 2.294167)" (generate_conflicting_dataset.py:267-271)
_COORD_RE = r"^\(\s*([-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)\s*,\s*([-+]?\d+(?:\.\d+)?(?:[eE][-+]?\d+)?)\s*\)$"


def coordinate_lat(c: Column) -> Column:
    """'(lat, lon)' -> lat double, null when not coordinate-shaped."""
    m = F.regexp_extract(F.trim(c), _COORD_RE, 1)
    return F.when(m != "", m.cast("double"))


def coordinate_lon(c: Column) -> Column:
    m = F.regexp_extract(F.trim(c), _COORD_RE, 2)
    return F.when(m != "", m.cast("double"))


def format_coordinate(lat: Column, lon: Column) -> Column:
    """Canonical '(lat, lon)' rendering matching Python str(tuple) for the
    shortest-round-trip double strings both runtimes produce."""
    return F.concat(
        F.lit("("), lat.cast("string"), F.lit(", "), lon.cast("string"), F.lit(")")
    )


def normalize_claim_value(value_str: Column, claim_type: Column) -> Column:
    """Typed value_str -> value_num for the fusion numeric branch.

    quantity -> unit-normalized number; time -> minutes-since-midnight;
    everything else -> null (categorical branch).
    """
    return (
        F.when(claim_type == "quantity", normalize_quantity(value_str))
        .when(claim_type == "time", extract_time_minutes(value_str))
        .otherwise(F.lit(None).cast("double"))
    )
