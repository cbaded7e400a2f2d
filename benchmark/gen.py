"""Seeded input generator for the four benchmark workloads.

Every function takes a ``random.Random`` built from the run's seed and a
directory, writes the workload's input files there and returns the
ground truth the output checks compare against.  The program under test
only ever sees the written files; the truth dicts stay in the benchmark.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import zipfile
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

COHORTS = ("adults_v1", "pediatric_v1")
EXPORT_END = "20240107"
EXPORT_SPAN = "20240101-20240107"
INTRADAY_TYPES = ("heartrate", "steps", "calories", "distance")


def _pid(cohort: str, i: int) -> str:
    return f"{'A' if cohort == 'adults_v1' else 'P'}{i:06d}"


def _ts(day: int, minute: int) -> str:
    return f"2024-01-{day:02d}T{minute // 60:02d}:{minute % 60:02d}:00"


# --------------------------------------------------------------------------
# export_batch
# --------------------------------------------------------------------------

INTRADAY_COLUMNS = (
    "ParticipantID ParticipantIdentifier Type DateTime Level Value Mets RMSSD "
    "Coverage Hf Lf DeepSleepSummaryBreathRate RemSleepSummaryBreathRate "
    "FullSleepSummaryBreathRate LightSleepSummaryBreathRate InsertedDate "
    "export_start_date export_end_date"
).split()
METS_RANGE = (0.0, 20.0)


def _intraday(rng, pid, typ, dt, inserted, mets):
    return {
        "ParticipantID": pid.lower(),
        "ParticipantIdentifier": pid,
        "Type": typ,
        "DateTime": dt,
        "Level": rng.randint(0, 4),
        "Value": str(rng.randint(40, 180)),
        "Mets": mets,
        "RMSSD": round(rng.uniform(10, 90), 2),
        "InsertedDate": inserted,
    }


def _sample(rng, pid, key, inserted):
    return {
        "HealthKitSampleKey": key,
        "ParticipantIdentifier": pid,
        "ParticipantID": pid.lower(),
        "Type": rng.choice(("HeartRate", "StepCount", "OxygenSaturation")),
        "StartDate": _ts(rng.randint(1, 7), rng.randint(0, 1439)),
        "Date": _ts(rng.randint(1, 7), rng.randint(0, 1439)),
        "Value": str(rng.randint(1, 200)),
        "Units": "count/min",
        "Source": {"Name": "Watch", "Identifier": "com.apple.health"},
        "Device": {"Name": "Apple Watch", "Model": "Watch"},
        "InsertedDate": inserted,
    }


def _heartbeat(rng, pid, key, inserted, n_sub):
    return {
        "HealthKitHeartbeatSampleKey": key,
        "ParticipantIdentifier": pid,
        "ParticipantID": pid.lower(),
        "Date": _ts(rng.randint(1, 7), rng.randint(0, 1439)),
        "StartDate": _ts(rng.randint(1, 7), rng.randint(0, 1439)),
        "SubSamples": [
            {"PrecededByGap": rng.random() < 0.1, "TimeSinceSeriesStart": round(j * 0.8, 2)}
            for j in range(n_sub)
        ],
        "Device": {"Name": "Apple Watch"},
        "Metadata": {"HKAlgorithmVersion": "2"},
        "InsertedDate": inserted,
    }


def _sleep(rng, pid, log_id, n_detail):
    return {
        "ParticipantIdentifier": pid,
        "ParticipantID": pid.lower(),
        "LogId": log_id,
        "StartDate": _ts(rng.randint(1, 7), rng.randint(0, 300)),
        "EndDate": _ts(rng.randint(1, 7), rng.randint(300, 700)),
        "Duration": str(rng.randint(10_000, 40_000)),
        "Efficiency": str(rng.randint(70, 99)),
        "IsMainSleep": rng.random() < 0.8,
        "SleepLogDetails": [
            {
                "Type": rng.choice(("deep", "light", "rem", "wake")),
                "StartDate": _ts(1, j),
                "EndDate": _ts(1, j + 1),
                "Value": str(rng.randint(1, 60)),
            }
            for j in range(n_detail)
        ],
    }


def gen_export(rng: random.Random, root: str, n_records: int, redeliver_rate: float = 0.05) -> dict:
    """One weekly export archive of NDJSON members per cohort, plus a
    planted "main" intraday dataset holding both cohorts.

    Mix by rows: FitbitIntradayCombined 70%, HealthKitV2Samples 15% (with a
    ``_Deleted`` member), HealthKitV2Heartbeat 8%, FitbitSleepLogs 7%.  A
    ``redeliver_rate`` share of the keys of each type with an
    ``InsertedDate`` is delivered a second time with an older
    ``InsertedDate`` and different values, so dedup must keep the newer
    copy.  Truth is kept per cohort under ``truth["cohorts"]``.
    """
    os.makedirs(root, exist_ok=True)
    per_cohort = n_records // len(COHORTS)
    new_ins, old_ins = "2024-01-08T00:00:00", "2023-12-31T00:00:00"
    main_rows = []
    cohorts = {}
    for cohort in COHORTS:
        truth = {
            "read": defaultdict(int), "unique": defaultdict(int), "survivors": defaultdict(int),
            "child_rows": defaultdict(int), "deleted_keys": [], "suite_unexpected": 0,
            "mets_sum": 0.0, "samples_value_sum": 0, "input_records": 0,
        }
        rows = []
        members: dict[str, list[dict]] = defaultdict(list)
        n_intraday = int(per_cohort * 0.70)
        n_samples = int(per_cohort * 0.15)
        n_heart = int(per_cohort * 0.08)
        n_sleep = per_cohort - n_intraday - n_samples - n_heart
        n_pids = max(10, per_cohort // 400)

        # FitbitIntradayCombined: flat, dominant by rows.
        minute = 0
        for i in range(n_intraday):
            pid = _pid(cohort, i % n_pids)
            typ = INTRADAY_TYPES[(i // n_pids) % len(INTRADAY_TYPES)]
            minute += 1 if i % (n_pids * len(INTRADAY_TYPES)) == 0 else 0
            dt = _ts(1 + (minute // 1440) % 7, minute % 1440)
            bad = rng.random() < 0.002
            mets = -1.0 if bad else round(rng.uniform(0.5, 15.0), 2)
            rec = _intraday(rng, pid, typ, dt, new_ins, mets)
            members[f"FitbitIntradayCombined_{EXPORT_SPAN}.json"].append(rec)
            truth["suite_unexpected"] += bad
            truth["mets_sum"] += mets
            row = dict.fromkeys(INTRADAY_COLUMNS)
            row.update(rec, export_start_date="2024-01-01", export_end_date="2024-01-07", cohort=cohort)
            rows.append(row)
            if rng.random() < redeliver_rate:
                old = _intraday(rng, pid, typ, dt, old_ins, round(rng.uniform(0.5, 15.0), 2))
                members[f"FitbitIntradayCombined_{EXPORT_SPAN}.json"].append(old)
        truth["unique"]["fitbitintradaycombined"] += n_intraday
        truth["survivors"]["fitbitintradaycombined"] += n_intraday

        # HealthKitV2Samples + planted deletes.
        for i in range(n_samples):
            pid = _pid(cohort, i % n_pids)
            key = f"{cohort[0]}s{i:07d}"
            rec = _sample(rng, pid, key, new_ins)
            members[f"HealthKitV2Samples_{EXPORT_SPAN}.json"].append(rec)
            if rng.random() < redeliver_rate:
                members[f"HealthKitV2Samples_{EXPORT_SPAN}.json"].append(_sample(rng, pid, key, old_ins))
            if rng.random() < 0.05:
                members[f"HealthKitV2Samples_Deleted_{EXPORT_SPAN}.json"].append({
                    "HealthKitSampleKey": key, "ParticipantIdentifier": pid,
                    "ParticipantID": pid.lower(), "Type": rec["Type"],
                    "DeletedDate": "2024-01-07T12:00:00",
                })
                truth["deleted_keys"].append([pid, key])
            else:
                truth["survivors"]["healthkitv2samples"] += 1
                truth["samples_value_sum"] += int(rec["Value"])
        truth["unique"]["healthkitv2samples"] += n_samples

        # HealthKitV2Heartbeat: nested SubSamples arrays.
        for i in range(n_heart):
            pid = _pid(cohort, i % n_pids)
            key = f"{cohort[0]}h{i:07d}"
            n_sub = rng.randint(0, 12)
            members[f"HealthKitV2Heartbeat_{EXPORT_SPAN}.json"].append(_heartbeat(rng, pid, key, new_ins, n_sub))
            truth["child_rows"]["healthkitv2heartbeat_subsamples"] += n_sub
            if rng.random() < redeliver_rate:
                members[f"HealthKitV2Heartbeat_{EXPORT_SPAN}.json"].append(
                    _heartbeat(rng, pid, key, old_ins, rng.randint(13, 20)))
        truth["unique"]["healthkitv2heartbeat"] += n_heart
        truth["survivors"]["healthkitv2heartbeat"] += n_heart

        # FitbitSleepLogs: nested.  It has no InsertedDate, so a re-delivery
        # inside the same export would tie on the dedup ordering; none is
        # planted.
        for i in range(n_sleep):
            pid = _pid(cohort, i % n_pids)
            log_id = f"{cohort[0]}l{i:07d}"
            n_detail = rng.randint(1, 8)
            members[f"FitbitSleepLogs_{EXPORT_SPAN}.json"].append(_sleep(rng, pid, log_id, n_detail))
            truth["child_rows"]["fitbitsleeplogs_sleeplogdetails"] += n_detail
        truth["unique"]["fitbitsleeplogs"] += n_sleep
        truth["survivors"]["fitbitsleeplogs"] += n_sleep

        path = os.path.join(root, f"{cohort}_export_{EXPORT_END}.zip")
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED, compresslevel=1) as zf:
            for name, recs in sorted(members.items()):
                zf.writestr(name, "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in recs))
                if "_Deleted_" not in name:
                    truth["read"][name.split("_")[0].lower()] += len(recs)
                truth["input_records"] += len(recs)
        for child in ("healthkitv2heartbeat_subsamples", "fitbitsleeplogs_sleeplogdetails"):
            truth["survivors"][child] = truth["child_rows"][child]
        main, truth["diff"] = _plant_main(rng, rows)
        main_rows += main
        truth = {k: dict(v) if isinstance(v, defaultdict) else v for k, v in truth.items()}
        truth["archive"] = path
        truth["input_bytes"] = os.path.getsize(path)
        cohorts[cohort] = truth

    main_path = os.path.join(root, "main_intraday.parquet")
    types = {"Level": pa.int32(), "Mets": pa.float64(), "RMSSD": pa.float64(), "Coverage": pa.float64(),
             "Hf": pa.float64(), "Lf": pa.float64(), "DeepSleepSummaryBreathRate": pa.float64(),
             "RemSleepSummaryBreathRate": pa.float64(), "FullSleepSummaryBreathRate": pa.float64(),
             "LightSleepSummaryBreathRate": pa.float64()}
    cols = list(INTRADAY_COLUMNS) + ["cohort"]
    pq.write_table(pa.table({c: pa.array([r[c] for r in main_rows], type=types.get(c, pa.string()))
                             for c in cols}), main_path)
    return {"cohorts": cohorts, "main": main_path}


def _plant_main(rng, rows):
    """One cohort's part of the previous "main" intraday dataset: this
    export's expected survivors with planted removals (rows only in
    staging), additions (rows only in main) and value changes.  Returns
    (main rows, planted diff)."""
    keys = lambda r: [r["ParticipantIdentifier"], r["Type"], r["DateTime"]]  # noqa: E731
    picks = rng.sample(range(len(rows)), 60)
    removed, changed = picks[:20], picks[20:60]
    diff = {"left_only": sorted(keys(rows[i]) for i in removed),
            "mismatched": sorted(keys(rows[i]) for i in changed), "right_only": []}
    removed_set, changed_set = set(removed), set(changed)
    out = []
    for i, r in enumerate(rows):
        if i in changed_set:
            r = dict(r, Value=str(int(r["Value"]) + 1000))
        if i not in removed_set:
            out.append(r)
    for j in range(20):
        extra = dict(rows[j], DateTime=f"2023-12-{20 + j % 5:02d}T00:{j:02d}:00")
        out.append(extra)
        diff["right_only"].append(keys(extra))
    diff["right_only"].sort()
    return out, diff


# --------------------------------------------------------------------------
# incremental_arrivals
# --------------------------------------------------------------------------


def gen_arrivals(rng: random.Random, root: str, n_arrivals: int, rows_per_arrival: int,
                 update_frac: float = 0.30, deleted_frac: float = 0.03) -> dict:
    """Daily HealthKitV2Samples exports as NDJSON files, one per arrival,
    plus a static ``_Deleted`` key set.

    About ``update_frac`` of each arrival's rows re-deliver an earlier key
    with a newer ``InsertedDate`` and a new value; the earlier key is drawn
    with weight growing with its arrival index, so recent participants are
    favoured.  Truth per arrival: survivor count and value sum after it.
    """
    os.makedirs(root, exist_ok=True)
    latest: dict[tuple, int] = {}
    first_seen: list[tuple] = []  # (key, arrival)
    files, expected = [], []
    deleted = set()
    for a in range(n_arrivals):
        day = 1 + a
        inserted = f"2024-02-{day:02d}T06:00:00"
        rows = []
        n_upd = int(rows_per_arrival * update_frac) if first_seen else 0
        weights = [k[1] + 1 for k in first_seen]
        upd = set()
        for key, _ in rng.choices(first_seen, weights=weights, k=n_upd) if n_upd else []:
            upd.add(key)
        for key in sorted(upd):
            rows.append((key, rng.randint(1, 500)))
        for j in range(rows_per_arrival - len(rows)):
            pid = f"A{rng.randint(0, 4000):06d}"
            key = (pid, f"k{a:02d}{j:06d}")
            first_seen.append((key, a))
            rows.append((key, rng.randint(1, 500)))
            if rng.random() < deleted_frac:
                deleted.add(key)
        path = os.path.join(root, f"HealthKitV2Samples_2024{2:02d}{day:02d}.json")
        with open(path, "w") as fh:
            for (pid, k), v in rows:
                latest[(pid, k)] = v
                fh.write(json.dumps({
                    "HealthKitSampleKey": k, "ParticipantIdentifier": pid, "ParticipantID": pid.lower(),
                    "Type": "HeartRate", "StartDate": inserted, "Date": inserted, "Value": str(v),
                    "Units": "count/min", "InsertedDate": inserted,
                    "export_start_date": f"2024-02-{day:02d}", "export_end_date": f"2024-02-{day:02d}",
                    "cohort": "adults_v1",
                }, separators=(",", ":")) + "\n")
        files.append(path)
        alive = [v for k, v in latest.items() if k not in deleted]
        expected.append({"count": len(alive), "value_sum": sum(alive)})
    deleted_path = os.path.join(root, "deleted", "HealthKitV2Samples_Deleted_20240201.json")
    os.makedirs(os.path.dirname(deleted_path))
    with open(deleted_path, "w") as fh:
        for pid, k in sorted(deleted):
            fh.write(json.dumps({"HealthKitSampleKey": k, "ParticipantIdentifier": pid,
                                 "DeletedDate": "2024-02-01T00:00:00",
                                 "export_end_date": "2024-02-01"}) + "\n")
    return {"files": files, "expected": expected, "deleted_path": deleted_path,
            "deleted_keys": sorted(list(k) for k in deleted),
            "rows": rows_per_arrival, "bytes": [os.path.getsize(f) for f in files]}


# --------------------------------------------------------------------------
# analyst_reads
# --------------------------------------------------------------------------

READ_TYPES = ("HeartRate", "StepCount", "OxygenSaturation", "RespiratoryRate")


def gen_reads(rng: random.Random, root: str, n_participants: int, n_queries: int) -> dict:
    """A curated samples table (written with pyarrow) and a seeded query
    mix with answers computed by DuckDB over that table.

    Each participant is active for a window of 5-15 days within 180 days,
    so a date-clustered layout keeps a participant in few files.  Mix:
    60% participant point lookups (Zipf over participants), 25% date-range
    scans, 15% SQL group-by aggregates.
    """
    os.makedirs(root, exist_ok=True)
    pids, dates, types, values = [], [], [], []
    for p in range(n_participants):
        pid = f"R{p:06d}"
        start = rng.randint(0, 165)
        for d in range(start, start + rng.randint(5, 15)):
            date = _day(d)
            for _ in range(rng.randint(4, 12)):
                pids.append(pid)
                dates.append(date)
                types.append(rng.choice(READ_TYPES))
                values.append(float(rng.randint(1, 300)))
    path = os.path.join(root, "samples.parquet")
    pq.write_table(pa.table({"ParticipantIdentifier": pids, "Date": dates, "Type": types,
                             "Value": pa.array(values, pa.float64())}), path)
    zipf_cum = list(itertools.accumulate(1.0 / (r + 1) ** 1.1 for r in range(n_participants)))
    order = list(range(n_participants))
    rng.shuffle(order)
    queries = []
    for _ in range(n_queries):
        u = rng.random()
        if u < 0.60:
            p = order[rng.choices(range(n_participants), cum_weights=zipf_cum)[0]]
            queries.append({"kind": "point", "pid": f"R{p:06d}"})
        elif u < 0.85:
            d = rng.randint(0, 175)
            queries.append({"kind": "range", "lo": _day(d), "hi": _day(d + rng.randint(0, 6))})
        else:
            d = rng.randint(0, 150)
            queries.append({"kind": "sql", "lo": _day(d), "hi": _day(d + rng.randint(7, 30))})
    con = duckdb.connect()
    con.execute(f"create view t as select * from read_parquet('{path}')")
    for q in queries:
        if q["kind"] == "point":
            q["answer"] = list(con.execute(
                "select count(*), coalesce(sum(Value), 0) from t where ParticipantIdentifier = ?",
                [q["pid"]]).fetchone())
        elif q["kind"] == "range":
            q["answer"] = list(con.execute(
                "select count(*), coalesce(sum(Value), 0) from t where Date between ? and ?",
                [q["lo"], q["hi"]]).fetchone())
        else:
            q["answer"] = [list(r) for r in con.execute(
                "select Type, count(*), sum(Value) from t where Date between ? and ? "
                "group by Type order by Type", [q["lo"], q["hi"]]).fetchall()]
    con.close()
    return {"path": path, "queries": queries, "rows": len(pids), "input_bytes": os.path.getsize(path)}


def _day(d: int) -> str:
    import datetime

    return (datetime.date(2024, 1, 1) + datetime.timedelta(days=d)).isoformat()


# --------------------------------------------------------------------------
# corpus_curate
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "that", "for")


def gen_corpus(rng: random.Random, root: str, n_base: int, dim: int = 32) -> dict:
    """Documents with embeddings: ``n_base`` originals plus planted exact
    duplicates (case/whitespace variants), near-duplicates (a few token
    edits, embedding = original + small noise) and low-quality documents
    (too short, or mostly digits)."""
    os.makedirs(root, exist_ok=True)
    nrng = np.random.default_rng(rng.randint(0, 2**31))
    vocab = sorted({"".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
                    for _ in range(4000)})

    def doc(n):
        return [rng.choice(STOPWORDS) if rng.random() < 0.3 else rng.choice(vocab) for _ in range(n)]

    texts, vecs = [], []
    for _ in range(n_base):
        texts.append(" ".join(doc(rng.randint(40, 80))))
        vecs.append(nrng.normal(size=dim))
    exact_groups: dict[int, list[int]] = {}
    near_pairs, low = [], []
    for _ in range(n_base // 10):  # exact duplicates
        src = rng.randrange(n_base)
        texts.append("  " + texts[src].upper() + " ")
        vecs.append(vecs[src])
        exact_groups.setdefault(src, [src]).append(len(texts) - 1)
    for _ in range(n_base // 8):  # near duplicates: ~3% of tokens edited
        src = rng.randrange(n_base)
        toks = texts[src].split()
        for _ in range(max(1, len(toks) // 33)):
            toks[rng.randrange(len(toks))] = rng.choice(vocab)
        texts.append(" ".join(toks))
        vecs.append(vecs[src] + nrng.normal(scale=0.05, size=dim))
        near_pairs.append((src, len(texts) - 1))
    for i in range(n_base // 20):  # low quality
        texts.append(" ".join(doc(8)) if i % 2 else " ".join(str(rng.randint(10**6, 10**9)) for _ in range(30)))
        vecs.append(nrng.normal(size=dim))
        low.append(len(texts) - 1)
    perm = list(range(len(texts)))
    rng.shuffle(perm)  # doc ids are a random permutation, so a copy may get the lower id
    ids = [1000 + perm[i] for i in range(len(texts))]
    # the ``documents`` and ``embeddings`` tables of a table directory, as
    # ``recover_spark.sql.register_views`` loads them
    id_col = pa.array(ids, pa.int64())
    pq.write_table(pa.table({"doc_id": id_col, "text": texts}), os.path.join(root, "documents.parquet"))
    pq.write_table(pa.table({
        "doc_id": id_col,
        "embedding": pa.array([list(map(float, v)) for v in vecs], pa.list_(pa.float64())),
    }), os.path.join(root, "embeddings.parquet"))
    return {
        "dir": root, "n_docs": len(texts),
        "input_bytes": sum(os.path.getsize(os.path.join(root, f"{t}.parquet")) for t in ("documents", "embeddings")),
        "exact_groups": [sorted(ids[i] for i in g) for g in exact_groups.values()],
        "near_pairs": [sorted((ids[a], ids[b])) for a, b in near_pairs],
        "low_quality": sorted(ids[i] for i in low),
        "texts": dict(zip(ids, texts)),
        "vectors": dict(zip(ids, vecs)),
    }
