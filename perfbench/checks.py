"""Correctness checks of each unit's outputs against the generators' ground
truth, the per-layer ratios read off those outputs, and an
order-independent digest of every output so that two commits can be
compared row for row."""
import csv
import glob
import hashlib
import os
import re

import pyarrow.parquet as pq

CATEGORIES = {"sleep", "rest", "low active", "high active"}
ACC_CATEGORIES = {"rest", "low active", "high active"}
NORMALIZED = {"hr": ["hr"], "hr current": ["hr current"], "st": ["st"],
              "spo2": ["spo2"], "bp": ["bp_sys", "bp_dia"],
              "activity": ["step", "Calories", "sleep_light", "sleep_deep",
                           "awake"],
              "multi measure": ["mm_hr", "mm_spo2", "mm_bp_sys", "mm_bp_dia",
                                "mm_st"]}


def expected_kinds(days):
    want = {}
    for d in days:
        for raw, n in d["raw_kinds"].items():
            for k in NORMALIZED.get(raw, []):
                want[k] = want.get(k, 0) + n
    return want


def row_hash(values):
    h = hashlib.sha1(repr(values).encode()).digest()
    return int.from_bytes(h[:8], "little")


def digest_rows(rows):
    """Order-independent multiset digest: sum of row hashes mod 2^64."""
    total = 0
    n = 0
    for r in rows:
        total = (total + row_hash(r)) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return f"{n}:{total:016x}"


def parquet_rows(path):
    t = pq.read_table(path)
    cols = sorted(t.column_names)
    data = [t.column(c).to_pylist() for c in cols]
    return [tuple(col[i] for col in data) for i in range(t.num_rows)]


def csv_rows(path):
    with open(path, newline="") as f:
        r = csv.reader(f)
        header = next(r)
        return header, [tuple(x) for x in r]


def overlaps(intervals):
    """Pairs of intervals that share more than an endpoint."""
    iv = sorted(intervals)
    bad = 0
    end = None
    for s, e in iv:
        if end is not None and s < end:
            bad += 1
        end = e if end is None else max(end, e)
    return bad


def file_stats(out):
    """(files, bytes) the unit wrote: data files, not markers, checksums or
    the copied inputs."""
    files = size = 0
    for root, _, names in os.walk(out):
        for n in names:
            if (n.startswith((".", "_")) or n.endswith(".json") or
                    n == "computed.csv"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# ---- watch_daily, traced library chain -------------------------------------

def check_library(day, out):
    """The parquet outputs of the library chain on one subject-day."""
    fails = []
    tables = {name: parquet_rows(os.path.join(out, name))
              for name in ("measurements", "ppg", "acc", "filtered",
                           "acc_category", "timeline")}
    kind = sorted(pq.read_schema(glob.glob(os.path.join(
        out, "measurements", "*.parquet"))[0]).names).index("kind")
    got = {}
    for r in tables["measurements"]:
        got[r[kind]] = got.get(r[kind], 0) + 1
    want = expected_kinds([day])
    if got != want:
        fails.append(f"reformat kind counts {got} != {want}")
    if len(tables["ppg"]) != day["ppg_rows"]:
        fails.append(f"ppg rows {len(tables['ppg'])}")
    acc = len(tables["acc"])
    if not 0 < acc <= 5 * min(day["ac_rows"].values()):
        fails.append(f"aligned acc rows {acc}")
    if len(tables["filtered"]) != day["filtered_rows"]:
        fails.append(f"filtered rows {len(tables['filtered'])} != "
                     f"{day['filtered_rows']}")
    tl = pq.read_table(os.path.join(out, "timeline")).to_pylist()
    fails += timeline_fails(
        [(r["start_time"], r["end_time"], r["category"]) for r in tl])
    cat = pq.read_table(os.path.join(out, "acc_category")).to_pylist()
    if not {r["category"] for r in cat} <= ACC_CATEGORIES:
        fails.append("acc category outside rest/low active/high active")
    return fails, {"library." + name: digest_rows(rows)
                   for name, rows in tables.items()}


def timeline_fails(rows):
    fails = []
    if not rows:
        fails.append("empty timeline")
    if not {c for _, _, c in rows} <= CATEGORIES:
        fails.append(f"timeline category outside {sorted(CATEGORIES)}")
    n = overlaps([(s, e) for s, e, _ in rows])
    if n:
        fails.append(f"{n} overlapping timeline intervals")
    return fails


# ---- watch_daily, CLI outputs -----------------------------------------------

def check_daily(truth, unit_id, out, start_ms):
    sid, date = unit_id.rsplit("_", 1)
    day = truth["subjects"][sid][date]
    d = os.path.join(out, sid, unit_id)
    names = {
        "measurements": f"0_{unit_id}_measurements.csv",
        "ppg": f"0_{unit_id}_ppg.csv",
        "ac": f"0_{unit_id}_ac.csv",
        "acc": f"0_{unit_id}_ac_reformatted.csv",
        "filtered": "filtered.csv",
        "thresholds": f"{sid}_sleep_acc_thresholds.csv",
        "acc_category": f"{sid}_acc_category.csv",
        "timeline": f"{sid}_activity_categorized.csv",
    }
    paths = {k: os.path.join(d, v) for k, v in names.items()}
    paths["timestamp_diff"] = os.path.join(out, "timestamp_diff.txt")
    fails, digests = [], {}
    for k, p in paths.items():
        if not os.path.exists(p):
            fails.append(f"missing output {k}")
        elif os.stat(p).st_mtime_ns // 1_000_000 < start_ms:
            fails.append(f"output {k} was not written in this run")
    if fails:
        return fails, {}, {}
    rows = {}
    for k, p in paths.items():
        if k in ("thresholds", "timestamp_diff"):
            with open(p) as f:
                rows[k] = f.read().split()
        else:
            header, rows[k] = csv_rows(p)
            if k == "measurements":
                kind_col = header.index("kind")
            if k == "timeline":
                tl_cols = [header.index(c)
                           for c in ("start_time", "end_time", "category")]
            if k == "acc_category":
                cat_col = header.index("category")
        digests[k] = digest_rows(rows[k])
    got = {}
    for r in rows["measurements"]:
        got[r[kind_col]] = got.get(r[kind_col], 0) + 1
    want = expected_kinds([day])
    if got != want:
        fails.append(f"reformat kind counts {got} != {want}")
    if len(rows["ppg"]) != day["ppg_rows"]:
        fails.append(f"ppg rows {len(rows['ppg'])}")
    if len(rows["ac"]) != sum(day["ac_rows"].values()):
        fails.append(f"ac rows {len(rows['ac'])}")
    acc = len(rows["acc"])
    if not 0 < acc <= 5 * min(day["ac_rows"].values()):
        fails.append(f"aligned acc rows {acc}")
    if len(rows["filtered"]) != day["filtered_rows"]:
        fails.append(f"filtered rows {len(rows['filtered'])} != "
                     f"{day['filtered_rows']}")
    # timestamps render as fixed-width "yyyy-MM-dd HH:mm:ss.SSSSSS", so
    # they compare as strings
    fails += timeline_fails([tuple(r[i] for i in tl_cols)
                             for r in rows["timeline"]])
    if not {r[cat_col] for r in rows["acc_category"]} <= ACC_CATEGORIES:
        fails.append("acc category outside rest/low active/high active")
    ratios = {"normalize.rows_out": len(rows["measurements"]),
              "acc.match_ratio": acc / 5 / day["ac_rows"]["acx"],
              "filters.drop_ratio":
                  1 - len(rows["filtered"]) / day["computed_rows"]}
    library = os.path.join(out, "library")
    if os.path.isdir(library):
        lib_fails, lib_digests = check_library(day, library)
        fails += ["library chain: " + f for f in lib_fails]
        digests.update(lib_digests)
    return fails, ratios, digests


# ---- docs_curate ------------------------------------------------------------

_WS = re.compile(r"\s+")


def check_docs(truth, unit_id, out, inputs):
    batch = truth["batches"][unit_id + ".parquet"]
    ids_in = set(pq.read_table(os.path.join(inputs, unit_id + ".parquet"),
                               columns=["doc_id"]).column(0).to_pylist())
    t = pq.read_table(os.path.join(out, "curated"))
    ids = t.column("doc_id").to_pylist()
    fails = []
    if not ids:
        fails.append("no survivors")
    if not set(ids) <= ids_in:
        fails.append("survivor ids outside the input")
    if len(set(ids)) != len(ids):
        fails.append("duplicate survivor ids")
    # Pipelines.curate's exact-dedup key: lower-cased, whitespace folded
    norm = [_WS.sub(" ", x.lower()) for x in t.column("text").to_pylist()]
    if len(set(norm)) != len(norm):
        fails.append(f"{len(norm) - len(set(norm))} survivors share "
                     "normalized text")
    low = {int(i) for i, (k, _) in batch["planted"].items() if k == "low"}
    if low & set(ids):
        fails.append(f"{len(low & set(ids))} planted low-quality docs kept")
    ratios = {"curate.keep_ratio": len(ids) / batch["docs"]}
    digests = {"curated": digest_rows(parquet_rows(os.path.join(out,
                                                                "curated")))}
    return fails, ratios, digests
