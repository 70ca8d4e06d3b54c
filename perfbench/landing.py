"""Seeded landing-file generator for the pipeline workload.

One size parameter, ``days``, scales all seven datasets; every date is a
real calendar day counted from ``START``. The same ``(days, seed)`` gives
byte-identical files, and every seed gives the same row counts: the seed
only moves values, so run-to-run timing differences come from the
machine, not from input size. Each dataset draws from its own random
stream, so a file does not depend on which other files are written.

Besides the files, ``generate`` returns the answers the pipeline must
produce from them: the row count of every silver table, the gold
``full_travel_cost.total`` of every itinerary date, and each date's total
spend and steps. They are derived here from the generated rows with plain Python,
independently of the Spark code under test.
"""

from __future__ import annotations

import csv
import json
import os
import random
from datetime import date, timedelta

START = date(2026, 1, 1)

# spending categories: the first five are the gold report's cost columns,
# the last two are valid spending rows that no cost column counts
TX_TYPES = ["Hotel", " food ", "ACTIVITY", "Travel", "misc", "Other", ""]
GOLD_TYPES = {"HOTEL", "FOOD", "ACTIVITY", "TRAVEL", "MISC"}
TX_PER_DAY = 24
HR_HOURS = range(8, 12)
HR_MINUTES = range(0, 60, 5)
HR_SECONDS = (0, 20, 40)
STEP_HOURS = range(6, 22, 2)

FILES = {
    "transactions": "transactions_bulk.csv",
    "manual_logs": "manual_logs_bulk.csv",
    "flight_logs": "flight_logs_bulk.csv",
    "fitbit_steps": "fitbit_steps_bulk.csv",
    "fitbit_sleep_score": "fitbit_sleep_score_bulk.csv",
    "fitbit_heart_rate": "fitbit_heart_rate_bulk.csv",
    "google_timeline": "google_timeline_bulk.json",
}

HEADERS = {
    "transactions": ["country", "date", "name", "type", "amount", "comments"],
    "manual_logs": ["day", "date", "flag", "country", "city", "description", "comments",
                    "food", "travel", "hotel"],
    "flight_logs": ["date", "flight_number", "from", "to", "dep_time", "arr_time",
                    "duration", "airline", "aircraft", "registration", "seat_number",
                    "seat_type", "flight_class", "flight_reason", "note", "dep_id",
                    "arr_id", "airline_id", "aircraft_id"],
    "fitbit_steps": ["timestamp", "steps", "data_source"],
    "fitbit_sleep_score": ["sleep_log_entry_id", "timestamp", "overall_score",
                           "composition_score", "revitalization_score", "duration_score",
                           "deep_sleep_in_minutes", "resting_heart_rate", "restlessness"],
    "fitbit_heart_rate": ["timestamp", "beats_per_minute", "data_source"],
}


def _transactions(rng: random.Random, dates: list[str], out: dict) -> list[list]:
    """Dirty amounts ("$1,234.56"), padded and mixed-case types, and one
    unparseable date per day (kept in silver, absent from gold)."""
    rows, groups = [], set()
    gold = out["gold_total"] = {d: 0.0 for d in dates}
    spent = out["spent_per_day"] = {d: 0.0 for d in dates}
    for d in dates:
        for i in range(TX_PER_DAY):
            t = TX_TYPES[i % len(TX_TYPES)]
            amount = rng.randint(500, 250_000) / 100
            amt_s = f"${amount:,.2f}" if i % 3 == 0 else f"{amount:.2f}"
            day = "garbage-date" if i == TX_PER_DAY - 1 else d
            comment = rng.choice(["Uber", "Train ticket", "Dinner", "", "NULL"])
            rows.append(["Japan", day, f"merchant_{rng.randint(0, 999)}", t, amt_s, comment])
            groups.add((day, t))
            if day == "garbage-date":
                continue
            spent[day] += amount
            if t.strip().upper() in GOLD_TYPES:
                gold[day] += amount
    out["silver_rows"]["all_spending"] = len(rows)
    # the CSV reader turns the empty type into NULL: still one group
    out["silver_rows"]["daily_spend"] = len(groups)
    return rows


def _manual_logs(rng: random.Random, dates: list[str], out: dict) -> list[list]:
    out["silver_rows"]["manual_logs"] = len(dates)
    return [
        [i, d, 1.0, "Japan", f"City{rng.randint(0, 9)}", f"desc {i}", f"note {i}",
         "ramen", "train", "hostel"]
        for i, d in enumerate(dates)
    ]


def _flight_logs(rng: random.Random, dates: list[str], out: dict) -> list[list]:
    rows = [
        [d, f"NH{800 + i}", "NRT", "KIX", "09:00", "11:15",
         rng.choice(["12:30", "02:15", "bad", "1:05:00"]), "ANA", "B789",
         f"JA{i:03d}A", f"{i % 40}A", "1", "2", "0", "note", "10", "20", "5", "7"]
        for i, d in enumerate(dates[::2])
    ]
    out["silver_rows"]["flight_logs"] = len(rows)
    return rows


def _fitbit_steps(rng: random.Random, dates: list[str], out: dict) -> list[list]:
    """Readings on even hours only; silver fills all 24 hours per date."""
    out["silver_rows"]["hourly_step_count"] = 24 * len(dates)
    rows = [
        [f"{d} {h:02d}:{m:02d}:00", rng.randint(0, 500), "fitbit"]
        for d in dates
        for h in STEP_HOURS
        for m in (0, 30)
    ]
    steps = out["steps_per_day"] = {d: 0 for d in dates}
    for ts, n, _ in rows:
        steps[ts[:10]] += n
    return rows


def _fitbit_sleep_score(rng: random.Random, dates: list[str], out: dict) -> list[list]:
    out["silver_rows"]["sleep_log"] = len(dates)
    return [
        [1000 + i, f"{d} 07:3{i % 6}:00", rng.choice([55, 65, 72, 80, 88, 90]),
         20.5, 60, 21.0, 45 + i % 30, 52 + i % 5, 0.08]
        for i, d in enumerate(dates)
    ]


def _fitbit_heart_rate(rng: random.Random, dates: list[str], out: dict) -> list[list]:
    """Three readings per sampled minute, on the zone boundaries
    (60/100/130) so that every zone branch is taken."""
    boundary = [59.0, 60.0, 99.0, 100.0, 129.0, 130.0, 131.0]
    out["silver_rows"]["heart_rate_minute_log"] = len(dates) * len(HR_HOURS) * len(HR_MINUTES)
    out["silver_rows"]["heart_rate_hourly_summary"] = len(dates) * len(HR_HOURS)
    return [
        [f"{d} {h:02d}:{m:02d}:{s:02d}",
         boundary[rng.randrange(len(boundary))] + rng.choice([0, 0.5]), "fitbit"]
        for d in dates
        for h in HR_HOURS
        for m in HR_MINUTES
        for s in HR_SECONDS
    ]


def _google_timeline(rng: random.Random, dates: list[str], out: dict) -> dict:
    """One visit and one activity per day, plus one segment with neither,
    which silver drops."""
    segments = []
    for i, d in enumerate(dates):
        lat, lon = 35.0 + rng.random(), 139.0 + rng.random()
        segments.append({
            "startTime": f"{d}T09:00:00.000+09:00",
            "endTime": f"{d}T10:30:00.000+09:00",
            "visit": {
                "probability": 0.87,
                "topCandidate": {
                    "placeId": f"ChIJ{i:05d}",
                    "placeLocation": {"latLng": f"{lat:.5f}°, {lon:.5f}°"},
                },
            },
        })
        segments.append({
            "startTime": f"{d}T11:00:00.000+09:00",
            "endTime": f"{d}T12:00:00.000+09:00",
            "activity": {
                "probability": 0.91,
                "distanceMeters": round(rng.uniform(100, 50_000), 1),
                "start": {"latLng": f"{lat:.5f}°, {lon:.5f}°"},
                "end": {"latLng": "34.69°, 135.50°"},
                "topCandidate": {"type": rng.choice(["IN_TRAIN", "WALKING", "FLYING"]),
                                 "probability": 0.9},
            },
        })
    segments.append({"startTime": f"{dates[0]}T00:00:00.000+09:00",
                     "endTime": f"{dates[0]}T01:00:00.000+09:00"})
    out["silver_rows"]["google_timeline"] = 2 * len(dates)
    return {"semanticSegments": segments}


MAKERS = {
    "transactions": _transactions,
    "manual_logs": _manual_logs,
    "flight_logs": _flight_logs,
    "fitbit_steps": _fitbit_steps,
    "fitbit_sleep_score": _fitbit_sleep_score,
    "fitbit_heart_rate": _fitbit_heart_rate,
    "google_timeline": _google_timeline,
}


def generate(dirpath: str, days: int, seed: int, datasets=tuple(FILES)) -> dict:
    """Write one landing file per dataset in ``datasets`` into ``dirpath``.

    Returns the expected answers for those datasets: ``silver_rows`` per
    silver table; with transactions, ``gold_total`` (the five cost
    categories) and ``spent_per_day`` (every category) per date; with
    fitbit_steps, ``steps_per_day``; and the
    landing ``files`` with their total ``landing_bytes``.
    """
    if days < 1:
        raise ValueError("days must be >= 1")
    os.makedirs(dirpath, exist_ok=True)
    dates = [(START + timedelta(days=i)).isoformat() for i in range(days)]
    out: dict = {"silver_rows": {}}
    for name in datasets:
        rows = MAKERS[name](random.Random(f"{seed}:{name}"), dates, out)
        path = os.path.join(dirpath, FILES[name])
        if name == "google_timeline":
            with open(path, "w") as f:
                json.dump(rows, f)
            continue
        with open(path, "w", newline="") as f:
            w = csv.writer(f, quoting=csv.QUOTE_MINIMAL)
            w.writerow(HEADERS[name])
            w.writerows(rows)
    out["files"] = [FILES[name] for name in datasets]
    out["landing_bytes"] = sum(os.path.getsize(os.path.join(dirpath, f)) for f in out["files"])
    return out
