"""Seed-keyed inputs of the ``flights_refresh`` workload.

``write_flights_inputs`` writes the medallion pipeline's CSV sources
(flights plus dirty airline/airport dimensions) and counts the dirty
rows the bronze and silver layers must drop in the returned
``FlightsManifest``, so that the benchmark can check row conservation
independently.  Every value is drawn from
``numpy.random.default_rng(seed)``, so the same seed yields
byte-identical files.  The airline and airport codes are those of the
repository's flight fixture.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

from unicargo_medallion_data_pipeline_spark.sources.flights_fixture import (
    AIRLINES,
    N_AIRPORTS,
    _STATES,
    _airport_code,
    gen_airlines,
)

FLIGHT_COLUMNS = (
    "year", "month", "day", "day_of_week", "airline", "flight_number",
    "tail_number", "origin_airport", "destination_airport",
    "scheduled_departure", "departure_time", "departure_delay", "taxi_out",
    "wheels_off", "scheduled_time", "elapsed_time", "air_time", "distance",
    "wheels_on", "taxi_in", "scheduled_arrival", "arrival_time",
    "arrival_delay", "diverted", "cancelled", "cancellation_reason",
    "air_system_delay", "security_delay", "airline_delay",
    "late_aircraft_delay", "weather_delay",
)
_DEDUP_KEY = ("flight_number", "flight_date", "origin_airport", "destination_airport")


def _hhmm(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.integers(0, 24, n) * 100 + rng.integers(0, 60, n)


@dataclass
class FlightsManifest:
    """What the generator wrote, for the benchmark's output checks."""

    csv_rows: int  # data lines of flights.csv
    malformed_rows: int  # lines the bronze quarantine must divert
    fact_rows: int  # rows silver must keep (independent recompute)
    input_bytes: int  # bytes of all three CSV sources


def flights_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` base flights of 2015 plus ~1% exact and ~0.5% key
    duplicates, with the dirty cells the silver cleansing rules target:
    calendar-invalid dates, unknown airline/airport codes, NULL keys,
    origin == destination and inconsistent ``day_of_week``."""
    month = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    hi = rng.random(n) < 0.005
    day = np.where(hi, rng.integers(29, 32, n), day)
    dates = np.array(
        [
            dt.date(2015, int(m), int(d)).isoweekday() if _valid(2015, m, d) else 0
            for m, d in zip(month, day)
        ]
    )
    dow = np.where(dates == 0, rng.integers(1, 8, n), dates)
    dow = np.where(rng.random(n) < 0.01, dow % 7 + 1, dow)

    codes = np.array([c for c, _ in AIRLINES])
    airline = codes[rng.integers(0, len(codes), n)].astype(object)
    airline[rng.random(n) < 0.005] = "XX"
    airline[rng.random(n) < 0.001] = None

    ap_codes = np.array([_airport_code(i) for i in range(N_AIRPORTS)])
    # cubic skew: a handful of hub routes carry most traffic
    o_i = np.minimum((rng.random(n) ** 3 * N_AIRPORTS).astype(int), N_AIRPORTS - 1)
    d_i = np.minimum((rng.random(n) ** 3 * N_AIRPORTS).astype(int), N_AIRPORTS - 1)
    d_i = np.where(d_i == o_i, (d_i + 1) % N_AIRPORTS, d_i)
    origin = ap_codes[o_i].astype(object)
    dest = ap_codes[d_i].astype(object)
    origin[rng.random(n) < 0.005] = "ZZZ"
    same = rng.random(n) < 0.003
    dest[same] = origin[same]
    origin[rng.random(n) < 0.002] = None
    dest[rng.random(n) < 0.002] = None

    tails = np.array([f"N{t % 1000:03d}{_airport_code(t)[:2]}" for t in range(600)])
    tail = tails[rng.integers(0, len(tails), n)].astype(object)
    tail[rng.random(n) < 0.01] = None

    u = rng.random(n)
    dep_delay = (-30 + 630 * u**3).astype(np.int64)
    ua = rng.random(n)
    arr_delay = (-40 + 660 * ua**3).astype(np.int64)
    cancelled = (rng.random(n) < 0.015).astype(np.int64)
    cause = (arr_delay > 15) & (rng.random(n) < 0.8)

    cols: dict[str, tuple[np.ndarray, np.ndarray | None]] = {
        "year": (np.full(n, 2015), None),
        "month": (month, None),
        "day": (day, None),
        "day_of_week": (dow, None),
        "flight_number": (rng.integers(1, 8000, n), rng.random(n) < 0.002),
        "scheduled_departure": (_hhmm(rng, n), None),
        "departure_time": (_hhmm(rng, n), rng.random(n) < 0.02),
        "departure_delay": (dep_delay, rng.random(n) < 0.02),
        "taxi_out": (rng.integers(3, 61, n), rng.random(n) < 0.02),
        "wheels_off": (_hhmm(rng, n), rng.random(n) < 0.02),
        "scheduled_time": (rng.integers(30, 501, n), rng.random(n) < 0.001),
        "elapsed_time": (rng.integers(25, 551, n), rng.random(n) < 0.02),
        "air_time": (rng.integers(20, 501, n), rng.random(n) < 0.02),
        "distance": (rng.integers(50, 3001, n), None),
        "wheels_on": (_hhmm(rng, n), rng.random(n) < 0.02),
        "taxi_in": (rng.integers(2, 41, n), rng.random(n) < 0.02),
        "scheduled_arrival": (_hhmm(rng, n), None),
        "arrival_time": (_hhmm(rng, n), rng.random(n) < 0.02),
        "arrival_delay": (arr_delay, rng.random(n) < 0.025),
        "diverted": ((rng.random(n) < 0.002).astype(np.int64), None),
        "cancelled": (cancelled, None),
        "air_system_delay": (rng.integers(0, 60, n), ~cause),
        "security_delay": (rng.integers(0, 5, n), ~cause),
        "airline_delay": (rng.integers(0, 120, n), ~cause),
        "late_aircraft_delay": (rng.integers(0, 120, n), ~cause),
        "weather_delay": (rng.integers(0, 30, n), ~cause),
    }
    reason = np.array(["A", "B", "C", "D"])[rng.integers(0, 4, n)].astype(object)
    reason[cancelled == 0] = None
    strings = {
        "airline": airline,
        "tail_number": tail,
        "origin_airport": origin,
        "destination_airport": dest,
        "cancellation_reason": reason,
    }
    arrays = []
    for c in FLIGHT_COLUMNS:
        if c in strings:
            arrays.append(pa.array(strings[c], pa.string()))
        else:
            vals, mask = cols[c]
            arrays.append(pa.array(vals.astype(np.int32), pa.int32(), mask=mask))
    base = pa.Table.from_arrays(arrays, names=list(FLIGHT_COLUMNS))

    # ~1% exact duplicates; ~0.5% duplicates on the dedup key whose
    # later scheduled_departure loses the canonical tiebreak
    exact = base.take(rng.choice(n, n // 100, replace=False))
    key_src = base.take(rng.choice(n, n // 200, replace=False))
    sched = pc.add(key_src["scheduled_departure"], pa.scalar(1, pa.int32()))
    key_dup = key_src.set_column(
        FLIGHT_COLUMNS.index("scheduled_departure"), "scheduled_departure", sched
    )
    return pa.concat_tables([base, exact, key_dup])


def _valid(y, m, d) -> bool:
    try:
        dt.date(int(y), int(m), int(d))
    except ValueError:
        return False
    return True


def airports_table(rng: np.random.Generator) -> pa.Table:
    """322 airports plus two duplicate codes and one NULL code."""
    codes = [_airport_code(i) for i in range(N_AIRPORTS)]
    lat = 17.0 + rng.integers(0, 5500, N_AIRPORTS) / 100.0
    lon = -176.0 + rng.integers(0, 11200, N_AIRPORTS) / 100.0
    states = [_STATES[i] for i in rng.integers(0, len(_STATES), N_AIRPORTS)]
    return pa.table(
        {
            "iata_code": pa.array(codes + [codes[0], codes[1], None], pa.string()),
            "airline": pa.array(
                [f"{c} International Airport" for c in codes]
                + ["Zz Duplicate A", "Zz Duplicate B", "Null-Code Field"],
                pa.string(),
            ),
            "city": pa.array([f"City {c}" for c in codes] + ["Dup", "Dup", None], pa.string()),
            "state": pa.array(states + ["CA", "TX", None], pa.string()),
            "country": pa.array(["USA"] * (N_AIRPORTS + 3), pa.string()),
            "latitude": pa.array(list(lat) + [17.5, 18.5, None], pa.float64()),
            "longitude": pa.array(list(lon) + [-100.25, -101.25, None], pa.float64()),
        }
    )


def expected_fact_rows(flights: pa.Table, airlines: pa.Table, airports: pa.Table) -> int:
    """Rows the silver star must keep, recomputed from the generated
    table alone: non-NULL airline/origin/destination, origin !=
    destination, a real calendar date, one row per dedup key, and codes
    known to both dimensions."""
    import pandas as pd

    df = flights.select(
        ["year", "month", "day", "day_of_week", "airline", "flight_number", "tail_number",
         "origin_airport", "destination_airport", "scheduled_departure"]
    ).to_pandas()
    df = df.dropna(subset=["airline", "origin_airport", "destination_airport"])
    df = df[df.origin_airport != df.destination_airport]
    df["flight_date"] = pd.to_datetime(
        dict(year=df.year, month=df.month, day=df.day), errors="coerce"
    )
    df = df.dropna(subset=["flight_date"])
    # the survivor per key follows the silver tiebreak (ascending, NULLs
    # first), which decides whether a known or an unknown airline wins
    df = df.sort_values(
        ["scheduled_departure", "tail_number", "day_of_week", "airline"],
        na_position="first",
        kind="stable",
    ).drop_duplicates(subset=list(_DEDUP_KEY))
    known_al = set(airlines["iata_code"].drop_null().to_pylist())
    known_ap = set(airports["iata_code"].drop_null().to_pylist())
    keep = (
        df.airline.isin(known_al)
        & df.origin_airport.isin(known_ap)
        & df.destination_airport.isin(known_ap)
    )
    return int(keep.sum())


def _malformed_lines(rng: np.random.Generator, k: int) -> list[str]:
    """CSV lines the typed parse must reject: a non-integer cell, or a
    short row."""
    out = []
    for i in range(k):
        cells = ["2015", "3", "14", "6", "AA", str(100 + i), "N100AB", "AAA", "AAB"]
        cells += [str(v) for v in rng.integers(1, 500, len(FLIGHT_COLUMNS) - len(cells))]
        if i % 2:
            cells[FLIGHT_COLUMNS.index("distance")] = "far"
        else:
            cells = cells[:12]
        out.append(",".join(cells))
    return out


def write_flights_inputs(seed: int, out_dir: str, n_rows: int) -> FlightsManifest:
    """Write ``flights.csv``, ``airlines.csv`` and ``airports.csv``
    under ``out_dir``, the files the CLI's ``--data-dir`` holds."""
    rng = np.random.default_rng(seed)
    flights = flights_table(rng, n_rows)
    flights = flights.take(rng.permutation(flights.num_rows))
    airlines = gen_airlines()
    airports = airports_table(rng)
    os.makedirs(out_dir, exist_ok=True)
    bad = _malformed_lines(rng, max(4, n_rows // 2000))
    path = os.path.join(out_dir, "flights.csv")
    pacsv.write_csv(flights, path)
    with open(path, "a") as fh:
        for line in bad:
            fh.write(line + "\n")
    pacsv.write_csv(airlines, os.path.join(out_dir, "airlines.csv"))
    pacsv.write_csv(airports, os.path.join(out_dir, "airports.csv"))
    return FlightsManifest(
        csv_rows=flights.num_rows + len(bad),
        malformed_rows=len(bad),
        fact_rows=expected_fact_rows(flights, airlines, airports),
        input_bytes=tree_bytes(out_dir),
    )


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
