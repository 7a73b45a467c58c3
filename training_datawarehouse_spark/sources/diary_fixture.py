"""Deterministic synthetic ``TrainingDiary.json`` for the OP-SRC-1
oracle query.

The reference's actual input blob is absent from its repo
(``.MISSING_LARGE_BLOBS``), so the nested-JSON ingest path
(reference ``populate_from_json.py:111-135``) is exercised against a
synthetic document with the recovered shape (FIXTURES.md §A). The
document is written to a fixed path so the Spark builder AND the
driver's DuckDB oracle read the same bytes.

Float discipline: every numeric field is generated on a binary-exact
grid (quarters for km, halves for rpe, integers elsewhere), so sums
and weighted means are bit-identical across engines with no rounding
slack needed.

Timestamps carry no zone suffix, so ``to_date`` (Spark, session-zone
parse) and ``substr(...,1,10)::DATE`` (DuckDB) agree regardless of the
host timezone.
"""

from __future__ import annotations

import json
import os
import random
import tempfile

# Inside the repo (committed, deterministic): the oracle SQL embeds this
# absolute path, so DuckDB must be able to read it even in a process
# that never imported this package — a tmp-dir file could be missing
# after a container restart.
DIARY_FIXTURE_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "testdata_fixtures",
    "training_diary.json",
)

_N_DAYS = 150


def build_diary_doc(n_days: int = _N_DAYS, seed: int = 7) -> dict:
    """FIXTURES.md §A shape: days[] (nested workouts[]), weights[],
    physiologicals[]. Deterministic for a given (n_days, seed)."""
    from datetime import date, timedelta

    rng = random.Random(seed)
    acts = ["Run", "Bike", "Swim"]
    types = ["Road", "Trail"]
    equip = ["Shoes A", "Bike One", "Not Set", ""]
    start = date(2021, 6, 1)

    days, weights, physio = [], [], []
    for i in range(n_days):
        d = start + timedelta(days=i)
        iso = f"{d.isoformat()}T12:00:00"
        workouts = []
        for _ in range(rng.randint(0, 3)):
            workouts.append({
                "activityString": rng.choice(acts),
                "activityTypeString": rng.choice(types),
                "equipmentName": rng.choice(equip),
                "km": rng.randint(4, 168) / 4.0,       # exact quarters
                "tss": rng.randint(10, 180),
                "rpe": rng.randint(2, 20) / 2.0,       # exact halves
                "hr": rng.randint(90, 180),
                "watts": rng.randint(100, 320),
                "seconds": rng.randint(600, 7200),
                "ascentMetres": rng.randint(0, 1500),
                "kj": rng.randint(100, 3000),
                "reps": rng.randint(0, 50),
                "isRace": int(rng.random() < 0.05),
                "brick": int(rng.random() < 0.1),
                "wattsEstimated": int(rng.random() < 0.5),
                "cadence": rng.randint(60, 100),
            })
        day = {
            "iso8061DateString": iso,
            "type": rng.choice(["Normal", "Rest", "Race"]),
            "fatigue": rng.randint(2, 20) / 2.0,
            "motivation": rng.randint(2, 20) / 2.0,
            "sleep": rng.randint(20, 36) / 4.0,
            "sleepQuality": rng.choice(["Poor", "Average", "Good"]),
        }
        if workouts:
            day["workouts"] = workouts
        days.append(day)
        if i % 7 == 3:
            weights.append({
                "iso8061DateString": iso,
                "kg": rng.randint(280, 320) / 4.0,
                "fatPercent": rng.randint(48, 80) / 4.0,
            })
        if rng.random() < 0.7:
            physio.append({
                "iso8061DateString": iso,
                "restingHR": rng.randint(40, 60) if rng.random() < 0.9 else 0,
                "restingSDNN": rng.randint(160, 480) / 4.0,
                "restingRMSSD": rng.randint(120, 440) / 4.0,
            })
    return {"days": days, "weights": weights, "physiologicals": physio}


def ensure_diary_fixture() -> str:
    """Write the fixture if absent (atomic rename — concurrent callers
    race benignly to identical bytes). Returns the path."""
    if not os.path.exists(DIARY_FIXTURE_PATH):
        os.makedirs(os.path.dirname(DIARY_FIXTURE_PATH), exist_ok=True)
        payload = json.dumps(build_diary_doc())
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(DIARY_FIXTURE_PATH))
        try:
            with os.fdopen(fd, "w") as f:
                f.write(payload)
            os.replace(tmp, DIARY_FIXTURE_PATH)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return DIARY_FIXTURE_PATH
