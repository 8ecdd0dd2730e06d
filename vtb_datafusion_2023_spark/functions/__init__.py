from .temporal import (  # noqa: F401
    pandas_dayofweek,
    seconds_since_midnight,
    hours_since,
    with_time_parts,
)
