"""Time/duration helpers (reference parity: utils.py, diurnal.py time math).

The reference moves freely between pandas Timedelta, decimal hours, and
day-of-year floats (diurnal.py:29-51, 561-605, 774-784; utils.py:11-29,
66-68). Here those become: driver-side parsing of duration specs into
seconds, and Column expressions for decimal-hour / doy projections.

No Python UDFs — every data-path function returns a native Column.
"""

from __future__ import annotations

import re
from datetime import timedelta

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "parse_duration_seconds",
    "epoch_seconds",
    "decimal_hours",
    "day_start",
    "decimal_doy",
    "end_of_day",
]

# pandas-style offset aliases → seconds. Reference durations are strings
# like '3T', '2H', '1D' (gpstools.py:524-526) parsed by pd.Timedelta; the
# reference's own parse_duration (utils.py:11-29) only matches single-digit
# magnitudes — a documented defect (SURVEY §5); this parser is general.
_UNIT_SECONDS = {
    "w": 7 * 86400.0,
    "d": 86400.0,
    "h": 3600.0,
    "t": 60.0,      # pandas minute alias
    "min": 60.0,
    "m": 60.0,      # treat bare 'm' as minutes (pandas Timedelta convention)
    "s": 1.0,
    "ms": 0.001,
}

_DURATION_RE = re.compile(r"\s*(\d+(?:\.\d+)?)\s*([a-zA-Z]+)\s*")


def parse_duration_seconds(spec) -> float:
    """Normalize a duration spec to float seconds.

    Accepts: number (seconds), ``timedelta``, or a pandas-style string like
    ``'3T'``, ``'2H'``, ``'90min'``, ``'1D6H'`` (concatenated parts sum).
    """
    if isinstance(spec, (int, float)):
        return float(spec)
    if isinstance(spec, timedelta):
        return spec.total_seconds()
    s = str(spec)
    pos, total = 0, 0.0
    matched = False
    for m in _DURATION_RE.finditer(s):
        if m.start() != pos:
            break
        unit = m.group(2).lower()
        if unit not in _UNIT_SECONDS:
            raise ValueError(f"unknown duration unit {unit!r} in {spec!r}")
        total += float(m.group(1)) * _UNIT_SECONDS[unit]
        pos = m.end()
        matched = True
    if not matched or pos != len(s):
        raise ValueError(f"cannot parse duration {spec!r}")
    return total


def epoch_seconds(ts: Column | str) -> Column:
    """Timestamp → double epoch seconds (fractional; keeps microseconds)."""
    return F.col(ts).cast("double") if isinstance(ts, str) else ts.cast("double")


def day_start(ts: Column | str) -> Column:
    """Calendar-day bucket: pd.Period('D').to_timestamp() parity
    (diurnal.py:308, 338-344)."""
    return F.date_trunc("DAY", ts)


def decimal_hours(ts: Column | str, anchor: Column | None = None) -> Column:
    """Hours since ``anchor`` (default: the timestamp's own day start).

    Parity: diurnal.py:257-264 (``timestamp_to_decimal_hours``).
    """
    c = F.col(ts) if isinstance(ts, str) else ts
    base = anchor if anchor is not None else day_start(c)
    return (c.cast("double") - base.cast("double")) / 3600.0


def decimal_doy(ts: Column | str) -> Column:
    """Decimal day-of-year (utils.py:66-68 ``DatetimeIndex_to_doy``)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    frac = (c.cast("double") - day_start(c).cast("double")) / 86400.0
    return F.dayofyear(c).cast("double") + frac


def end_of_day(ts: Column | str) -> Column:
    """23:59:59 of the same day (diurnal.py:774-775 ``make_end_of_day``)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return day_start(c) + F.expr("INTERVAL 23 HOURS 59 MINUTES 59 SECONDS")
