"""Reusable column-expression helpers (all JVM-side, no Python UDFs)."""

from .datetime_utils import pandas_weekday, is_weekend, day_name, sale_date, week_start
from .money import dsum, safe_div

__all__ = [
    "pandas_weekday", "is_weekend", "day_name", "sale_date", "week_start",
    "dsum", "safe_div",
]
