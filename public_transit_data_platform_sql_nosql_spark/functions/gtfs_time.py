"""GTFS time semantics (SURVEY.md SS1.4 -- "the TIME semantics trap").

GTFS service times exceed 24:00:00 (overnight trips run to ~28:59:59,
`/root/reference/SQL/Q4 Create View.sql:2`).  Spark has no TIME type and
``TimestampType`` cannot hold hour 25, so the engine's convention is:

- the raw ``"HH:MM:SS"`` string is kept verbatim;
- a derived nullable integer *seconds-since-midnight* column is the
  computational representation;
- ``hour_of_day = floor(secs / 3600)`` reproduces MySQL ``HOUR()`` including
  values >= 24 (`/root/reference/SQL/sql_utils.py:63`);
- the timetable *display* path wraps hours >= 24 back into a clock time, as
  the reference does with ``time_str.split(" ")[-1]`` on pandas Timedeltas
  (`/root/reference/Mongo/app.py:96-100,176-181`).

All functions are pure Column expressions (JVM-side, codegen-friendly) --
no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a well-formed GTFS time; the timetable's Python display path
# (queries/timetable.py) matches the same pattern
GTFS_TIME_PATTERN = r"^\d{1,3}:\d{2}:\d{2}$"


def time_to_secs(col: Column | str) -> Column:
    """``"HH:MM:SS"`` (H may exceed 24 and be 1-3 digits) -> seconds since
    midnight as IntegerType; NULL/malformed -> NULL."""
    c = F.col(col) if isinstance(col, str) else col
    parts = F.split(c, ":")
    secs = (
        parts.getItem(0).cast("int") * 3600
        + parts.getItem(1).cast("int") * 60
        + parts.getItem(2).cast("int")
    )
    return F.when(c.rlike(GTFS_TIME_PATTERN), secs).cast("int")


def secs_to_time(col: Column | str) -> Column:
    """Seconds since midnight -> zero-padded ``"HH:MM:SS"`` string (hours may
    exceed 24, keeping GTFS semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(
        c.isNotNull(),
        F.format_string(
            "%02d:%02d:%02d",
            (c / 3600).cast("int"),
            ((c % 3600) / 60).cast("int"),
            (c % 60).cast("int"),
        ),
    )


def hour_of_day(secs_col: Column | str) -> Column:
    """MySQL ``HOUR()`` over a GTFS time: 0..28+, NOT capped at 23.

    Reference: `/root/reference/SQL/sql_utils.py:63` (view definition).
    """
    c = F.col(secs_col) if isinstance(secs_col, str) else secs_col
    return F.floor(c / 3600).cast("int")


def wrap_display_time(secs_col: Column | str) -> Column:
    """Clock-face display time: hour 25:30 renders as ``"01:30:00"``.

    Replicates the reference's pandas-Timedelta round trip
    (``"1 days 01:30:00".split(" ")[-1]``, `/root/reference/Mongo/app.py:96-100`).
    """
    c = F.col(secs_col) if isinstance(secs_col, str) else secs_col
    return secs_to_time(c % 86400)


def unwrap_timedelta_string(col: Column | str) -> Column:
    """String-level equivalent of the reference's ``split(" ")[-1]`` on
    strings like ``"1 days 03:00:00"`` (`/root/reference/Mongo/app.py:176-181`):
    take the segment after the last space (identity for plain ``HH:MM:SS``)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.substring_index(c, " ", -1)
