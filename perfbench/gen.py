"""Seeded input generators: the OpenWeatherMap-shaped observations of
``etl_microbatch`` and the ``events``-shaped write batches of
``lakehouse_mixed``. Every value is a pure function of the seed, so the
same seed gives byte-identical inputs. The tables the engine starts from
are the shipped test data under ``perfbench/data``, not generated here.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

EVENTS_T0_US = 1704067200 * 1_000_000  # 2024-01-01 00:00:00 UTC
EVENTS_SPAN_US = 30 * 86400 * 1_000_000
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def rng(seed: int, tag: str) -> np.random.Generator:
    """An independent stream per (seed, purpose): adding a table or a draw
    never shifts the values of another."""
    return np.random.default_rng([seed, *tag.encode()])


def event_rows(r: np.random.Generator, ids: np.ndarray, n_users: int) -> pa.Table:
    """``events``-shaped rows for ``ids``, in the shipped table's value
    domains: 30 days of 2024, ``n_users`` users, five event types."""
    n = len(ids)
    ts = EVENTS_T0_US + r.integers(0, EVENTS_SPAN_US, n)
    return pa.table(
        {
            "event_id": pa.array(ids.astype("int64")),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(r.integers(0, n_users, n, dtype="int64")),
            "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n)]),
            "value": pa.array(np.round(r.exponential(50.0, n), 2) + 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n)]),
        }
    )


# -- OpenWeatherMap-shaped observations ------------------------------------

WEATHER_T0 = 1696752000  # 2023-10-08 00:00:00 UTC
SLOT_S = 120  # the reference's 2-minute cadence
#: UTC offsets in seconds, including +5:30, +5:45, +9:30 and -8:00: the
#: reference shifts by the offset itself, never through an IANA zone.
TZ_OFFSETS = np.array([-28800, -18000, -12600, 0, 3600, 7200, 19800, 20700, 32400, 34200])
DESCRIPTIONS = np.array(
    ["clear sky", "few clouds", "scattered clouds", "broken clouds", "shower rain",
     "rain", "thunderstorm", "snow", "mist", "haze"]
)
MAINS = np.array(["Clear", "Clouds", "Clouds", "Clouds", "Rain", "Rain", "Thunderstorm",
                  "Snow", "Mist", "Haze"])


def _mix(x: np.ndarray) -> np.ndarray:
    """splitmix64 finaliser, vectorised (uint64 arithmetic wraps)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


class WeatherSource:
    """Observation (city, slot) -> one raw record, as a pure function of the
    seed, so any earlier observation can be re-delivered bit-for-bit."""

    def __init__(self, seed: int, n_cities: int):
        self.seed = seed
        self.n_cities = n_cities
        r = rng(seed, "cities")
        self.names = np.array([f"City {i:03d}" for i in range(n_cities)])
        self.tz = TZ_OFFSETS[r.integers(0, len(TZ_OFFSETS), n_cities)]

    def _u(self, city: np.ndarray, slot: np.ndarray, field: int) -> np.ndarray:
        with np.errstate(over="ignore"):
            x = (
                np.uint64(self.seed) * np.uint64(0x9E3779B97F4A7C15)
                + city.astype("uint64") * np.uint64(0xD1B54A32D192ED03)
                + slot.astype("uint64") * np.uint64(0xAEF17502108EF2D9)
                + np.uint64(field)
            )
            return (_mix(x) >> np.uint64(11)).astype("float64") / float(1 << 53)

    def columns(self, city: np.ndarray, slot: np.ndarray) -> dict[str, np.ndarray]:
        """Raw fields of observations (city[i], slot[i])."""
        return {
            "name": self.names[city],
            "dt": WEATHER_T0 + slot.astype("int64") * SLOT_S + (city * 7) % SLOT_S,
            "timezone": self.tz[city],
            "temp": np.round(-10.0 + 45.0 * self._u(city, slot, 1), 2),
            "humidity": (10 + 90 * self._u(city, slot, 2)).astype("int64"),
            "pressure": (980 + 50 * self._u(city, slot, 3)).astype("int64"),
            "desc": (len(DESCRIPTIONS) * self._u(city, slot, 4)).astype("int64"),
            "n_weather": (1 + 3 * self._u(city, slot, 5)).astype("int64"),
            "wind": np.round(20.0 * self._u(city, slot, 6), 2),
        }

    def records(self, city: np.ndarray, slot: np.ndarray) -> list[dict]:
        """Nested OpenWeatherMap-shaped dicts (the API response shape)."""
        c = self.columns(city, slot)
        out = []
        for i in range(len(city)):
            d = int(c["desc"][i])
            weather = [
                {"description": str(DESCRIPTIONS[(d + j) % len(DESCRIPTIONS)]),
                 "main": str(MAINS[(d + j) % len(MAINS)])}
                for j in range(int(c["n_weather"][i]))
            ]
            out.append(
                {
                    "name": str(c["name"][i]),
                    "dt": int(c["dt"][i]),
                    "timezone": int(c["timezone"][i]),
                    "main": {
                        "temp": float(c["temp"][i]),
                        "humidity": int(c["humidity"][i]),
                        "pressure": int(c["pressure"][i]),
                    },
                    "weather": weather,
                    "wind": {"speed": float(c["wind"][i])},
                    "cod": 200,
                }
            )
        return out

    def flat_table(self, city: np.ndarray, slot: np.ndarray) -> pa.Table:
        """The sink rows of these observations, computed column-wise (used
        for the pre-loaded history; the output checks use the scalar port
        in ``reference.py``)."""
        c = self.columns(city, slot)

        def fmt(secs: np.ndarray) -> np.ndarray:
            s = np.datetime_as_string(secs.astype("datetime64[s]"), unit="s")
            return np.char.replace(s, "T", " ")

        return pa.table(
            {
                "city": pa.array(c["name"]),
                "temperature": pa.array(c["temp"].astype("float32")),
                "weather": pa.array(DESCRIPTIONS[c["desc"]]),
                "humidity": pa.array(c["humidity"].astype("int32")),
                "pressure": pa.array(c["pressure"].astype("int32")),
                "wind_speed": pa.array(c["wind"].astype("float32")),
                "lt": pa.array(fmt(c["dt"] + c["timezone"])),
                "utc": pa.array(fmt(c["dt"])),
            }
        )
