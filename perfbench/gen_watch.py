#!/usr/bin/env python3
"""Seeded smartwatch input generator for the watch workloads.

For every subject-day it writes, under ``<out>/<subject>/<subject>_<date>/``:

* raw upload JSON files (JSON arrays of ``{"time", "kind", "data"}``
  records, epoch milliseconds) holding every raw kind: ``hr``,
  ``hr current``, ``st``, ``spo2`` (scalar or ``[v]``), ``bp``,
  ``activity``, ``multi measure`` (nested), ``ppg`` waveforms, and
  overnight 10 Hz ``acx``/``acy``/``acz`` (5 samples per 0.5 s record)
  with per-axis jitter, >0.5 s desyncs (two records dropped on one axis)
  and >1 s gaps on all axes;
* ``computed.csv`` -- the per-minute vendor table (``date_time,kind,data``)
  with every kind on one minute grid, one hr flatline run of exactly 20
  (kept by the filter) and one of 21+ (dropped), out-of-range vitals and
  a cumulative ``sleep_total`` counter that resets at noon.

``<out>/truth.json`` holds the ground truth the checker compares against.
The same ``--seed`` and sizes give byte-identical files; record counts
depend only on the sizes, never on the seed.

    python3 perfbench/gen_watch.py --seed 1 --out DIR --subjects 4 --days 2
"""
import argparse
import json
import os
import random
import datetime as dt

MIN_MS = 60_000
EPOCH0 = dt.date(2024, 3, 4)
COMPUTED_KINDS = ["hr", "spo2", "bp_sys", "bp_dia", "st", "step",
                  "sleep_total", "sleep_light", "sleep_deep"]
# raw kind -> normalized measurement rows it becomes
ROWS_PER_RAW = {"hr": 1, "hr current": 1, "st": 1, "spo2": 1, "bp": 2,
                "activity": 5, "multi measure": 5}
SLEEP_START_MIN = 30       # counter runs 00:30 -> 06:30
SLEEP_END_MIN = 390
RESET_MIN = 720            # counter resets to 0 at noon
ACC_START_MIN = 60         # overnight acc wear starts at 01:00
GAP_EVERY = 1200           # records between all-axis gaps (10 min)
GAP_RECORDS = 6            # a gap skips 3 s of records (> 1 s)
DESYNC_EVERY = 840         # records between one-axis desyncs (7 min)


def fmt(v):
    return f"{v:.4f}"


def day_records(rng, day_ms, acc_hours):
    """Raw upload records of one day, time-ordered."""
    recs = []

    def add(t, kind, data):
        recs.append((t, kind, data))

    for m in range(0, 1440, 5):
        v = rng.randint(55, 110)
        add(day_ms + m * MIN_MS, "hr", f"[{v}]")
    for m in range(0, 1440, 30):
        t = day_ms + m * MIN_MS + 15_000
        add(t, "hr current", str(rng.randint(55, 110)))
        add(t + 1000, "st", f"[{fmt(rng.uniform(35.5, 37.5))}]")
        add(t + 2000, "spo2", str(rng.randint(92, 99)))
    for m in range(0, 1440, 60):
        t = day_ms + m * MIN_MS + 30_000
        add(t, "activity", "[%d, %d, %d, %d, %d]" % (
            rng.randint(0, 5000), rng.randint(0, 300), rng.randint(0, 90),
            rng.randint(0, 90), rng.randint(0, 30)))
    for m in range(0, 1440, 120):
        t = day_ms + m * MIN_MS + 45_000
        add(t, "bp", f"[{rng.randint(100, 135)}, {rng.randint(65, 85)}]")
        add(t + 1000, "ppg", "[" + ", ".join(
            str(rng.randint(900, 1100)) for _ in range(25)) + "]")
    for m in range(0, 1440, 180):
        t = day_ms + m * MIN_MS + 50_000
        add(t, "multi measure", "[%d, %d, [%d, %d], %s]" % (
            rng.randint(55, 110), rng.randint(92, 99), rng.randint(100, 135),
            rng.randint(65, 85), fmt(rng.uniform(35.5, 37.5))))

    # overnight acc: one record per axis every 0.5 s, 5 samples each
    n_slots = int(acc_hours * 7200)
    start = day_ms + ACC_START_MIN * MIN_MS
    axis_counts = {"acx": 0, "acy": 0, "acz": 0}
    burst = False
    slot = 0
    k = 0
    while k < n_slots:
        if k % GAP_EVERY == GAP_EVERY - 1:
            slot += GAP_RECORDS  # all axes pause > 1 s: new session
        if k % 600 == 0:  # a movement burst in ~1 of 6 five-minute stretches
            burst = rng.random() < 0.17
        drop_axis = None
        if k % DESYNC_EVERY in (DESYNC_EVERY // 2, DESYNC_EVERY // 2 + 1):
            drop_axis = ("acx", "acy", "acz")[(k // DESYNC_EVERY) % 3]
        base = start + slot * 500
        for axis, g in (("acx", 0.0), ("acy", 0.0), ("acz", 1.0)):
            if axis == drop_axis:
                continue
            t = base + rng.randint(-40, 40)
            if burst and rng.random() < 0.5:
                vals = [g + rng.gauss(0, 0.8) for _ in range(5)]
            else:
                vals = [g + rng.gauss(0, 0.01) for _ in range(5)]
            add(t, axis, "[" + ", ".join(fmt(v) for v in vals) + "]")
            axis_counts[axis] += 1
        slot += 1
        k += 1
    recs.sort(key=lambda r: (r[0], r[1]))
    return recs, axis_counts


def write_uploads(recs, day_dir, date, upload_records, device):
    """Chunk the day's records into upload files named like the watch
    app's exports: ``<device>_<date> HH-MM-SS.json``."""
    names = set()
    sizes = 0
    for i in range(0, len(recs), upload_records):
        chunk = recs[i:i + upload_records]
        t0 = chunk[0][0] // 1000
        while True:
            stamp = dt.datetime.fromtimestamp(t0, dt.timezone.utc)
            name = f"{device}_{date} {stamp.strftime('%H-%M-%S')}.json"
            if name not in names:
                break
            t0 += 1
        names.add(name)
        body = "[" + ",\n".join(
            '{"time": %d, "kind": "%s", "data": %s}' % r for r in chunk) + "]"
        with open(os.path.join(day_dir, name), "w", newline="\n") as f:
            f.write(body)
        sizes += len(body)
    return len(names), sizes


def day_computed(rng, day_ms):
    """Per-minute vendor table of one day plus its filter ground truth."""
    hr = []
    prev = None
    for _ in range(1440):
        v = rng.randint(55, 110)
        while v == prev:
            v = rng.randint(55, 110)
        hr.append(float(v))
        prev = v
    # two planted flatlines in the daytime: exactly 20 (kept), 21+ (dropped)
    long_len = rng.randint(21, 30)
    a = rng.randint(420, 600)
    b = rng.randint(780, 1300)
    dropped = set(range(b, b + long_len))
    for start, n in ((a, 20), (b, long_len)):
        before, after = hr[start - 1], hr[start + n]
        v = float(rng.randint(55, 110))
        while v in (before, after):
            v = float(rng.randint(55, 110))
        for m in range(start, start + n):
            hr[m] = v
    planted = set(range(a, a + 20)) | dropped
    free = [m for m in range(1440) if m not in planted
            and m - 1 not in planted and m + 1 not in planted]
    # out-of-range vitals: below graft.ops.Filters.VitalRanges' minima
    oor = {}
    for kind, lo, hi in (("hr", 30, 45), ("spo2", 60, 75), ("bp_sys", 60, 75),
                         ("bp_dia", 40, 55), ("st", 20, 28)):
        for m in rng.sample(free, 3):
            oor[(m, kind)] = float(rng.randint(lo, hi))
    for (m, kind), v in oor.items():
        if kind == "hr":
            hr[m] = v
    rows = []
    sleep_light = sleep_deep = 0.0
    bathroom = rng.randint(150, 200)  # steps during the night, ~03:00
    for m in range(1440):
        ts = day_ms + m * MIN_MS
        stamp = dt.datetime.fromtimestamp(ts / 1000, dt.timezone.utc)
        t = stamp.strftime("%Y-%m-%d %H:%M:%S")
        if SLEEP_START_MIN <= m <= SLEEP_END_MIN:
            sleep_total = float(m - SLEEP_START_MIN)
            if m % 2:
                sleep_light += 1
            else:
                sleep_deep += 1
        elif m < SLEEP_START_MIN or m >= RESET_MIN:
            sleep_total = 0.0
        else:
            sleep_total = float(SLEEP_END_MIN - SLEEP_START_MIN)
        if SLEEP_START_MIN <= m <= SLEEP_END_MIN:
            step = 30.0 if m == bathroom else 0.0
        else:
            step = float(rng.choice((0, 0, rng.randint(1, 120))))
        vals = {
            "hr": hr[m],
            "spo2": float(rng.randint(92, 99)),
            "bp_sys": float(rng.randint(100, 135)),
            "bp_dia": float(rng.randint(65, 85)),
            "st": round(rng.uniform(35.5, 37.5), 2),
            "step": step,
            "sleep_total": sleep_total,
            "sleep_light": sleep_light,
            "sleep_deep": sleep_deep,
        }
        for (om, kind), v in oor.items():
            if om == m:
                vals[kind] = v
        for kind in COMPUTED_KINDS:
            rows.append(f"{t},{kind},{vals[kind]}")
    kept = 0
    for m in range(1440):
        if m in dropped:
            continue
        for kind in COMPUTED_KINDS:
            if (m, kind) in oor:
                continue
            kept += 1
    truth = {
        "computed_rows": len(rows),
        "filtered_rows": kept,
        "flatline_dropped_minutes": long_len,
        "out_of_range_rows": len(oor),
    }
    return rows, truth


def generate(seed, out, subjects, days, acc_hours, upload_records,
             prefix="subj"):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    truth = {"seed": seed, "subjects": {}}
    for s in range(subjects):
        sid = f"{prefix}{s:03d}"
        device = "-".join(f"{rng.randint(0, 255):02x}" for _ in range(6))
        days_truth = {}
        for d in range(days):
            date = (EPOCH0 + dt.timedelta(days=d)).isoformat()
            day_ms = int(dt.datetime(*map(int, date.split("-")),
                                     tzinfo=dt.timezone.utc).timestamp()) * 1000
            day_dir = os.path.join(out, sid, f"{sid}_{date}")
            os.makedirs(day_dir, exist_ok=True)
            recs, axis_counts = day_records(rng, day_ms, acc_hours)
            n_files, n_bytes = write_uploads(recs, day_dir, date,
                                             upload_records, device)
            kinds = {}
            for _, k, _ in recs:
                kinds[k] = kinds.get(k, 0) + 1
            rows, ctruth = day_computed(rng, day_ms)
            with open(os.path.join(day_dir, "computed.csv"), "w",
                      newline="\n") as f:
                f.write("date_time,kind,data\n" + "\n".join(rows) + "\n")
            days_truth[date] = {
                "dir": os.path.relpath(day_dir, out),
                "raw_records": len(recs),
                "raw_kinds": kinds,
                "upload_files": n_files,
                "upload_bytes": n_bytes,
                "measurement_rows": sum(ROWS_PER_RAW[k] * n
                                        for k, n in kinds.items()
                                        if k in ROWS_PER_RAW),
                "ppg_rows": kinds.get("ppg", 0),
                "ac_rows": axis_counts,
                **ctruth,
            }
        truth["subjects"][sid] = days_truth
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f, indent=1, sort_keys=True)
    return truth


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--subjects", type=int, default=2)
    ap.add_argument("--days", type=int, default=1)
    ap.add_argument("--acc-hours", type=float, default=0.5,
                    help="overnight 10 Hz acc wear hours per day")
    ap.add_argument("--upload-records", type=int, default=20000,
                    help="records per upload file")
    ap.add_argument("--prefix", default="subj")
    a = ap.parse_args()
    generate(a.seed, a.out, a.subjects, a.days, a.acc_hours,
             a.upload_records, a.prefix)


if __name__ == "__main__":
    main()
