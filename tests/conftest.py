from __future__ import annotations

import json
import math
import random

import pytest

from training_datawarehouse_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture
def jobs_of(spark):
    """``jobs_of(fn) -> (jobs, fn())``: how many Spark jobs ``fn`` started."""
    st = spark.sparkContext.statusTracker()

    def count(fn):
        # job ids are sequential; count by the newest id, not by how many
        # the tracker holds — it drops its oldest jobs past
        # spark.ui.retainedJobs, which can shrink the list mid-build
        before = max(st.getJobIdsForGroup(None), default=-1)
        out = fn()
        return max(st.getJobIdsForGroup(None), default=-1) - before, out

    return count


@pytest.fixture(scope="session")
def diary_path(tmp_path_factory) -> str:
    """Deterministic synthetic TrainingDiary.json (FIXTURES.md §A):
    400 consecutive days, 0–3 workouts/day over 3 activities × 2 types
    × 4 equipments (incl. 'Not Set' and ''), weekly weights,
    physiologicals with gaps."""
    rng = random.Random(42)
    acts = ["Run", "Bike", "Swim"]
    types = ["Road", "Trail"]
    equip = ["Shoes A", "Bike One", "Not Set", ""]

    days, weights, physio = [], [], []
    from datetime import date, timedelta

    start = date(2020, 1, 1)
    for i in range(400):
        d = start + timedelta(days=i)
        iso = f"{d.isoformat()}T07:00:00Z"
        workouts = []
        for _ in range(rng.randint(0, 3)):
            secs = rng.randint(600, 7200)
            workouts.append({
                "activityString": rng.choice(acts),
                "activityTypeString": rng.choice(types),
                "equipmentName": rng.choice(equip),
                "km": round(rng.uniform(1, 42), 2),
                "tss": rng.randint(10, 180),
                "rpe": round(rng.uniform(1, 10), 1),
                "hr": rng.randint(90, 180),
                "watts": rng.randint(100, 320),
                "seconds": secs,
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
            "fatigue": round(rng.uniform(1, 10), 1),
            "motivation": round(rng.uniform(1, 10), 1),
            "sleep": round(rng.uniform(5, 9), 1),
            "sleepQuality": rng.choice(["Poor", "Average", "Good"]),
        }
        if workouts:
            day["workouts"] = workouts
        days.append(day)
        if i % 7 == 3:
            weights.append({
                "iso8061DateString": iso,
                "kg": round(rng.uniform(70, 80), 1),
                "fatPercent": round(rng.uniform(12, 20), 1),
            })
        if rng.random() < 0.7:
            physio.append({
                "iso8061DateString": iso,
                "restingHR": rng.randint(40, 60) if rng.random() < 0.9 else 0,
                "restingSDNN": round(rng.uniform(40, 120), 1),
                "restingRMSSD": round(rng.uniform(30, 110), 1),
            })

    doc = {"days": days, "weights": weights, "physiologicals": physio}
    path = tmp_path_factory.mktemp("diary") / "TrainingDiary.json"
    path.write_text(json.dumps(doc))
    return str(path)


def ref_ewma(values, n_days):
    """The reference's EWMA loop (populate_from_json.py:264-269),
    reimplemented from its recurrence for differential testing."""
    impact = 1.0 - math.exp(-1.0 / n_days)
    decay = math.exp(-1.0 / n_days)
    out, acc = [], 0.0
    for x in values:
        acc = x * impact + acc * decay
        out.append(acc)
    return out
