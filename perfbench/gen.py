"""Seeded inputs of the ``etl`` workload: the landing files of the
hourly ETL and the ETL's independent Python replay.  The same arguments
always give byte-identical inputs.

The query workloads (``dashboard``, ``curation``) generate nothing: they
read the repository's parquet testdata, a copy of which is kept under
``perfbench/data/``.
"""

from __future__ import annotations

import datetime as _dt
import json
import os

import numpy as np


# ---------------------------------------------------------------------------
# ETL: hourly current-weather rounds
# ---------------------------------------------------------------------------

#: first fetch hour of every generated ETL run (epoch seconds, UTC)
ETL_T0 = 1_764_547_200  # 2025-12-01T00:00:00Z
_WEATHER = [(500, "Rain", "mưa nhẹ"), (800, "Clear", "bầu trời quang đãng"),
            (802, "Clouds", "mây rải rác"), (803, "Clouds", "mây cụm")]


def _readings(rng: np.random.Generator, cities: list[dict], dt: np.ndarray) -> list[dict]:
    """Flattened current_weather rows (the fact columns the ETL
    upserts), one per ``(cities[i], dt[i])``; values are drawn fresh on
    every call, so a re-delivery changes them."""
    n = len(cities)
    w = rng.integers(0, len(_WEATHER), n)
    temp = np.round(rng.uniform(15.0, 35.0, n), 2)
    feels = np.round(temp + rng.uniform(-3.0, 3.0, n), 2)
    speed = np.round(rng.uniform(0.0, 10.0, n), 2)
    gust = np.round(speed + rng.uniform(0.0, 3.0, n), 2)
    u = rng.random((n, 3))
    ints = np.stack([rng.integers(990, 1031, n), rng.integers(30, 101, n),
                     rng.integers(0, 360, n), rng.integers(0, 101, n)], axis=1)
    rows = []
    for i, city in enumerate(cities):
        d = int(dt[i])
        day = d - d % 86_400 - city["timezone"]
        rows.append({
            "city_id": city["city_id"],
            "dt": d,
            "weather_id": _WEATHER[w[i]][0],
            "weather_main": _WEATHER[w[i]][1],
            "description": _WEATHER[w[i]][2],
            "base": "stations" if u[i, 0] < 0.9 else None,
            "temp": float(temp[i]),
            "feels_like": float(feels[i]),
            "temp_min": round(float(temp[i]) - 2.0, 2),
            "temp_max": round(float(temp[i]) + 2.0, 2),
            "pressure": int(ints[i, 0]),
            "humidity": int(ints[i, 1]),
            "visibility": 10000 if u[i, 1] < 0.8 else None,
            "wind_speed": float(speed[i]),
            "wind_deg": int(ints[i, 2]),
            "wind_gust": float(gust[i]) if u[i, 2] < 0.7 else None,
            "clouds_all": int(ints[i, 3]),
            "sunrise": day + 6 * 3600 + 20 * 60,  # ~06:20 local
            "sunset": day + 17 * 3600 + 30 * 60,  # ~17:30 local
        })
    return rows


def _doc(city: dict, row: dict, cod: int = 200) -> str:
    """The OpenWeatherMap ``/weather`` document for one reading."""
    doc = {
        "coord": {"lon": city["coord_lon"], "lat": city["coord_lat"]},
        "weather": [{"id": row["weather_id"], "main": row["weather_main"],
                     "description": row["description"], "icon": "04d"}],
        "main": {k: row[k] for k in ("temp", "feels_like", "temp_min", "temp_max",
                                     "pressure", "humidity")},
        "wind": {"speed": row["wind_speed"], "deg": row["wind_deg"]},
        "clouds": {"all": row["clouds_all"]},
        "dt": row["dt"],
        "sys": {"country": city["country"], "sunrise": row["sunrise"],
                "sunset": row["sunset"]},
        "timezone": city["timezone"],
        "id": city["city_id"],
        "name": city["city_name"],
        "cod": cod,
    }
    if row["base"] is not None:
        doc["base"] = row["base"]
    if row["visibility"] is not None:
        doc["visibility"] = row["visibility"]
    if row["wind_gust"] is not None:
        doc["wind"]["gust"] = row["wind_gust"]
    return json.dumps(doc, ensure_ascii=False)


class EtlRounds:
    """``n_rounds`` hourly fetch rounds over ``n_cities`` cities.

    Round r carries, for every city, the reading of hour r; about 10%
    of cities also get hour r-1 re-delivered with changed values; about
    0.5% of cities are renamed from round r on; about 1% of the hour-r
    docs are replaced by malformed JSON and about 1% by a ``cod != 200``
    API error.  No round carries two different rows for one key, so the
    last write per key is unambiguous.

    ``docs[r]`` are the landing lines of round r, ``bad[r]`` counts the
    docs the ETL must drop, and ``writes[r]`` are the rows a correct ETL
    upserts — the input of :class:`Replay`."""

    def __init__(self, seed: int, n_cities: int, n_rounds: int) -> None:
        rng = np.random.default_rng([seed, 7])
        current = [
            {
                "city_id": 1_581_130 + i,
                "city_name": f"Thành phố {i}" if i % 3 else f"City {i}",
                "country": "VN" if i % 17 else "PH",
                "coord_lat": round(float(rng.uniform(8.0, 23.5)), 4),
                "coord_lon": round(float(rng.uniform(102.0, 110.0)), 4),
                "timezone": 25200 if i % 29 else 28800,
            }
            for i in range(n_cities)
        ]
        self.docs: list[list[str]] = []
        self.bad: list[int] = []
        self.writes: list[tuple[list[dict], list[dict]]] = []
        for r in range(n_rounds):
            dt = ETL_T0 + 3600 * r
            for i in np.flatnonzero(rng.random(n_cities) < 0.005):
                current[i] = dict(current[i], city_name=f"{current[i]['city_name']} r{r}")
            fate = rng.random(n_cities)
            fresh = _readings(rng, current, np.full(n_cities, dt))
            again_idx = np.flatnonzero(rng.random(n_cities) < 0.10) if r else []
            again = _readings(rng, [current[i] for i in again_idx],
                              np.full(len(again_idx), dt - 3600))
            lines: list[str] = []
            facts: list[dict] = []
            touched: list[dict] = []
            for i, (city, row) in enumerate(zip(current, fresh)):
                if fate[i] < 0.01:
                    lines.append(_doc(city, row)[:-7])  # truncated: malformed
                elif fate[i] < 0.02:
                    lines.append(_doc(city, row, cod=500))
                else:
                    lines.append(_doc(city, row))
                    facts.append(row)
                    touched.append(city)
            for i, row in zip(again_idx, again):
                lines.append(_doc(current[i], row))
                facts.append(row)
                touched.append(current[i])
            order = rng.permutation(len(lines))
            self.docs.append([lines[j] for j in order])
            self.bad.append(int(np.count_nonzero(fate < 0.02)))
            self.writes.append((touched, facts))

    def write_landing(self, landing_dir: str) -> list[str]:
        """One JSON-lines landing file per round; returns their paths."""
        os.makedirs(landing_dir, exist_ok=True)
        paths = []
        for r, lines in enumerate(self.docs):
            path = os.path.join(landing_dir, f"round-{r:04d}.json")
            with open(path, "w", encoding="utf-8") as fh:
                fh.write("\n".join(lines) + "\n")
            paths.append(path)
        return paths


class Replay:
    """Independent expected state: the last write per key, applied
    round by round in plain Python."""

    def __init__(self) -> None:
        self.cities: dict[int, dict] = {}
        self.facts: dict[tuple[int, int], dict] = {}
        self.newest: dict[int, int] = {}

    def apply(self, touched: list[dict], facts: list[dict]) -> None:
        for c in touched:
            self.cities[c["city_id"]] = c
        for f in facts:
            cid = f["city_id"]
            self.facts[(cid, f["dt"])] = f
            if f["dt"] > self.newest.get(cid, -1):
                self.newest[cid] = f["dt"]

    def freshness(self) -> set[tuple]:
        """The dashboard freshness read: per city its newest reading,
        joined to the city's current name."""
        out = set()
        for cid, dt in self.newest.items():
            f = self.facts[(cid, dt)]
            out.add((cid, self.cities[cid]["city_name"], utc(dt), f["temp"], f["humidity"]))
        return out


def utc(epoch_s: int) -> _dt.datetime:
    """Epoch seconds as the naive UTC datetime Spark returns for
    ``timestamp_ntz``."""
    return _dt.datetime(1970, 1, 1) + _dt.timedelta(seconds=epoch_s)
