"""Seed-driven, vectorised generator for the flights source table.

Produces the raw Kaggle-itineraries shape of FIXTURES.md spec B: the
``segments*`` columns are ``||``-joined strings carrying the reference's
quirks (string-encoded ``None``/``null`` elements, whole-column NULLs,
padded codes, malformed durations, quality-filter violations). Every
column is drawn as a numpy array, so 200k rows take well under a second;
the pure-Python row loop in the test fixture would take about 37 s.

The first ``len(EDGE_ROWS)`` rows are fixed edge cases (spec B's
"edge rows every generator must include"); the rest are random. The same
``(n, seed)`` always yields the same frame.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

AIRPORTS = pa.array([
    "ATL", "BOS", "CLT", "DEN", "DFW", "DTW", "EWR", "IAD",
    "JFK", "LAX", "LGA", "MIA", "OAK", "ORD", "PHL", "SFO",
])
AIRLINE_CODES = pa.array(["AA", "DL", "UA", "B6", "NK", "F9", "AS", "WN"])
AIRLINE_NAMES = pa.array([
    "American Airlines", "Delta Air Lines", "United Airlines", "JetBlue Airways",
    "Spirit Airlines", "Frontier Airlines", "Alaska Airlines", "Southwest Airlines",
])
CABINS = pa.array(["coach", "premium coach", "business", "first"])
EQUIPMENT = pa.array(["Boeing 737-800", "Airbus A321", "Embraer 175", "Airbus A320", ""])
MAX_SEGMENTS = 4
FIRST_SEARCH = np.datetime64("2022-04-16")
SEARCH_DAYS = 7  # searchDate spans 2022-04-16 .. 2022-04-22

# Edge cases pinned at the head of every frame. Each entry overrides the
# random draw of one row; the tests look for each by its ``index``.
EDGE_ROWS = {
    "null_segments": 0,  # segmentsDuration/Distance NULL -> empty arrays
    "four_segments": 1,
    "hours_only_duration": 2,  # PT5H
    "minutes_only_duration": 3,  # PT55M
    "base_equals_total": 4,  # kept by the quality filter
    "zero_seats": 5,  # kept by the quality filter
    "same_day_flight": 6,  # one date is both searchDate and flightDate
}


def _str(values: np.ndarray) -> pa.Array:
    return pc.cast(pa.array(values), pa.string())


def _pick(choices: np.ndarray, codes: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(codes, choices).cast(pa.string())


def _join(parts: list[pa.Array], n_seg: pa.Array) -> pa.Array:
    """``||``-join the first ``n_seg[i]`` of ``parts[k][i]`` per row."""
    out = parts[0]
    for k in range(1, MAX_SEGMENTS):
        joined = pc.binary_join_element_wise(out, parts[k], "||")
        out = pc.if_else(pc.greater(n_seg, k), joined, out)
    return out


def _int_list(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[pa.Array]:
    """Per-segment int strings with ~3% ``None`` and ~2% ``null`` elements."""
    parts = []
    for _ in range(MAX_SEGMENTS):
        vals = _str(rng.integers(lo, hi, n))
        r = rng.random(n)
        vals = pc.if_else(pa.array(r < 0.05), "null", vals)
        parts.append(pc.if_else(pa.array(r < 0.03), "None", vals))
    return parts


def _iso(ts: np.ndarray) -> pa.Array:
    """``YYYY-MM-DDTHH:MM:SS`` strings of a datetime64[s] array."""
    return pc.replace_substring(_str(ts), " ", "T")


def make_flights(n: int, seed: int) -> pa.Table:
    """Return ``n`` raw flights rows (``index`` 0..n-1) drawn from ``seed``."""
    if n < len(EDGE_ROWS):
        raise ValueError(f"n must be at least {len(EDGE_ROWS)} to hold the edge rows")
    rng = np.random.default_rng(seed)
    idx = np.arange(n, dtype=np.int64)

    search_off = rng.integers(0, SEARCH_DAYS, n)
    flight_off = rng.integers(0, 61, n)
    n_seg_np = rng.choice(np.array([1, 1, 1, 2, 2, 3, 4]), n)
    n_seg_np[EDGE_ROWS["four_segments"]] = 4
    flight_off[EDGE_ROWS["same_day_flight"]] = 0
    n_seg = pa.array(n_seg_np)
    search = FIRST_SEARCH + search_off.astype("timedelta64[D]")
    flight = search + flight_off.astype("timedelta64[D]")

    # leg-consistent chains of distinct airports: a random permutation per row
    chain = np.argsort(rng.random((n, len(AIRPORTS))), axis=1)[:, : MAX_SEGMENTS + 1]
    dep = [_pick(AIRPORTS, chain[:, k]) for k in range(MAX_SEGMENTS)]
    arr = [_pick(AIRPORTS, chain[:, k + 1]) for k in range(MAX_SEGMENTS)]
    padded = pa.array(rng.random(n) < 0.05)
    starting = pc.if_else(padded, pc.utf8_center(dep[0], 7, " "), dep[0])

    # ~30% of multi-leg itineraries mix airlines; the rest repeat one airline
    single = rng.integers(0, len(AIRLINE_CODES), n)
    mixed = (n_seg_np > 1) & (rng.random(n) < 0.30)
    airline = [
        np.where(mixed, rng.integers(0, len(AIRLINE_CODES), n), single)
        for _ in range(MAX_SEGMENTS)
    ]

    hours = _str(rng.integers(0, 14, n))
    minutes = _str(rng.integers(0, 60, n))
    r = rng.random(n)
    cat = pc.binary_join_element_wise
    duration = np.where(
        r < 0.01,
        "garbage-duration",
        np.where(
            r < 0.05,
            cat("PT", hours, "H", ""),
            np.where(
                r < 0.09,
                cat("PT", minutes, "M", ""),
                cat("PT", hours, "H", minutes, "M", ""),
            ),
        ),
    ).astype(object)
    duration[EDGE_ROWS["hours_only_duration"]] = "PT5H"
    duration[EDGE_ROWS["minutes_only_duration"]] = "PT55M"

    base_fare = np.round(rng.uniform(20, 4000, n), 2)
    total_fare = np.where(
        rng.random(n) < 0.02,  # quality violation: base > total
        np.round(base_fare - 10.0, 2),
        np.round(base_fare + rng.uniform(0, 400, n), 2),
    )
    total_fare[EDGE_ROWS["base_equals_total"]] = base_fare[EDGE_ROWS["base_equals_total"]]
    seats = np.where(rng.random(n) < 0.02, rng.integers(-1, 11, n), rng.integers(0, 11, n))
    seats[EDGE_ROWS["zero_seats"]] = 0
    distance_total = rng.integers(100, 3000, n).astype(float)
    no_distance = rng.random(n) < 0.08

    t0 = flight.astype("datetime64[s]") + rng.integers(5, 20, n).astype("timedelta64[h]")
    dep_times, arr_times = [], []
    for k in range(MAX_SEGMENTS):
        d = t0 + np.timedelta64(3 * k, "h")
        a = d + rng.integers(45, 240, n).astype("timedelta64[m]")
        offset = pa.array(rng.random(n) < 0.2)
        dep_times.append(cat(_iso(d), pc.if_else(offset, "-04:00", "Z"), ""))
        arr_times.append(cat(_iso(a), "Z", ""))

    null_segments = rng.random(n) < 0.02
    null_segments[EDGE_ROWS["null_segments"]] = True
    nulls = pa.array(null_segments)
    durations = _join(_int_list(rng, n, 2700, 14400), n_seg)
    distances = _join(_int_list(rng, n, 100, 2900), n_seg)

    fbc = pc.utf8_lpad(_str(rng.integers(0, 50, n)), 2, "0")
    fbc_padded = pa.array(rng.random(n) < 0.1)
    fare_basis = cat("FB", fbc, pc.if_else(fbc_padded, "  ", ""), "")
    leg_id = pc.utf8_lpad(pa.array([f"{v:x}" for v in rng.integers(0, 2**31, n)]), 8, "0")
    return pa.table({
        "index": idx,
        "legId": leg_id,
        "searchDate": _str(search),
        "flightDate": _str(flight),
        "startingAirport": starting,
        "destinationAirport": _pick(AIRPORTS, chain[idx, n_seg_np]),
        "fareBasisCode": fare_basis,
        "travelDuration": pa.array(duration, pa.string()),
        "elapsedDays": flight_off.astype(np.int64),
        "isBasicEconomy": rng.random(n) < 0.3,
        "isRefundable": rng.random(n) < 0.1,
        "isNonStop": n_seg_np == 1,
        "baseFare": base_fare,
        "totalFare": total_fare,
        "seatsRemaining": seats.astype(np.int64),
        "totalTravelDistance": pa.array(distance_total, mask=no_distance),
        "segmentsDepartureTimeRaw": _join(dep_times, n_seg),
        "segmentsArrivalTimeRaw": _join(arr_times, n_seg),
        "segmentsArrivalAirportCode": _join(arr, n_seg),
        "segmentsDepartureAirportCode": _join(dep, n_seg),
        "segmentsAirlineCode": _join([_pick(AIRLINE_CODES, a) for a in airline], n_seg),
        "segmentsAirlineName": _join([_pick(AIRLINE_NAMES, a) for a in airline], n_seg),
        "segmentsEquipmentDescription": _join(
            [_pick(EQUIPMENT, rng.integers(0, len(EQUIPMENT), n)) for _ in range(MAX_SEGMENTS)],
            n_seg,
        ),
        "segmentsCabinCode": _join(
            [_pick(CABINS, rng.integers(0, len(CABINS), n)) for _ in range(MAX_SEGMENTS)], n_seg
        ),
        "segmentsDurationInSeconds": pc.if_else(nulls, pa.scalar(None, pa.string()), durations),
        "segmentsDistance": pc.if_else(nulls, pa.scalar(None, pa.string()), distances),
    })
