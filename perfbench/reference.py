"""Pure-Python port of the reference job's transform (the Airflow DAG's
``transform`` task): one nested OpenWeatherMap record -> one flat sink row.

``utc`` is the epoch ``dt`` rendered as ``%Y-%m-%d %H:%M:%S`` in UTC; ``lt``
is the same rendering of ``dt + timezone``, a fixed-offset shift with no
zone database. Both are strings, and the natural key is ``(city, utc)``.
Temperature and wind speed are stored as 32-bit floats by the sink.
"""

from __future__ import annotations

from datetime import datetime, timezone

import numpy as np

FMT = "%Y-%m-%d %H:%M:%S"


def transform(rec: dict) -> tuple:
    def render(secs: int) -> str:
        return datetime.fromtimestamp(secs, tz=timezone.utc).strftime(FMT)

    return (
        rec["name"],
        float(np.float32(rec["main"]["temp"])),
        rec["weather"][0]["description"],
        rec["main"]["humidity"],
        rec["main"]["pressure"],
        float(np.float32(rec["wind"]["speed"])),
        render(rec["dt"] + rec["timezone"]),
        render(rec["dt"]),
    )
