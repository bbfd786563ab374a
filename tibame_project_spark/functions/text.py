"""String cleanup scalars from the reference's pandas/BQ transforms.

All pure built-ins (split / regexp / trim / try_cast) — each cites the
reference call-site it re-expresses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def extract_city(state: Column) -> Column:
    """``REGEXP_EXTRACT(state, r"^(.*?[市|縣])")`` — city prefix up to the
    first 市/縣 (``d_gmaps_dim_places.py:40``). BigQuery yields NULL on
    no-match; Spark yields '' — normalized to NULL for parity."""
    return F.nullif(F.regexp_extract(state, r"^(.*?[市|縣])", 1), F.lit(""))


def extract_region(state: Column) -> Column:
    """``REGEXP_EXTRACT(state, r"(?:[市|縣])(.*)$")`` — remainder after 市/縣
    (``d_gmaps_dim_places.py:41``)."""
    return F.nullif(F.regexp_extract(state, r"(?:[市|縣])(.*)$", 1), F.lit(""))


def parse_rating(raw: Column) -> Column:
    """TripAdvisor rating "4.0 分 (共 5 分)" → 4.0.

    Reference splits on "分 " and floats the head
    (``d_tripadvisor_src_to_ods.py:74-81``; also ``.split(" ")[0].strip()``
    variant ``transfer_src_tripadvisor_to_ods_tripadvisor.py:73``).
    Unparseable → NULL (pd.to_numeric(errors="coerce") analog)."""
    return F.trim(F.element_at(F.split(raw, "分"), 1)).try_cast("double")


def parse_paren_year(raw: Column) -> Column:
    """ROC-year strings "104(2015)" → 2015
    (``transfer_src_taipei_to_ods_taipei.py:72`` splits on parens)."""
    return F.regexp_extract(raw, r"\((\d+)\)", 1).try_cast("int")


def split_delimited(col: Column, delim: str = "•") -> Column:
    """"A • B • C" → array('A','B','C') with per-element trim.

    Reference: replace "•"→"," then ast-eval to list
    (``d_tripadvisor_src_to_ods.py:90-97``) / split-and-strip
    (``transfer_src_tripadvisor_to_ods_tripadvisor.py:75``)."""
    return F.transform(F.split(col, delim), lambda x: F.trim(x))
