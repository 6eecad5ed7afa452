#!/usr/bin/env python3
"""Shows that the benchmark's per-subject filter check catches the
cross-subject leak of batched ``filterNoise``.

Two generated subjects share their dates. ``filterNoise`` runs over both
at once with ``partitionCols = Seq("subject")`` and once per subject; the
per-subject row counts are checked against the generator's ground truth
(generated rows minus the planted >20-minute hr flatline rows and the
out-of-range rows). The batched path fails the check: its flatline
intervals are per subject, but the point-in-interval join that applies
them matches on time only, so one subject's flatline rows survive inside
the other subject's kept intervals.

Run from the repository root:

    python3 perfbench/leak_demo.py
"""
import os
import shutil
import sys

import pyarrow.compute as pc
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.dont_write_bytecode = True

import gen_watch  # noqa: E402
import run  # noqa: E402


def main():
    run.build()
    work = os.path.join(run.BUILD, "leak_demo")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    truth = gen_watch.generate(1, inputs, subjects=2, days=1,
                               acc_hours=0.1, upload_records=1000)
    out = os.path.join(work, "out")
    run.run_java("graft.perfbench.LeakDemo", [inputs, out], work, "jvm.log")
    batched = pq.read_table(os.path.join(out, "batched"))
    failed = 0
    for sid, days in sorted(truth["subjects"].items()):
        want = sum(d["filtered_rows"] for d in days.values())
        for path, rows in (
                ("single-subject", sum(
                    pq.read_metadata(os.path.join(root, n)).num_rows
                    for root, _, names in os.walk(os.path.join(out, "single"))
                    if os.path.basename(root).startswith(sid + "_")
                    for n in names if n.endswith(".parquet"))),
                ("batched", pc.sum(pc.equal(batched.column("subject"),
                                            sid)).as_py())):
            ok = rows == want
            failed += not ok
            print(f"{path:15s} {sid}: filtered rows {rows}, ground truth "
                  f"{want} -> {'ok' if ok else 'FAIL'}")
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(f"{failed} per-subject check(s) failed")


if __name__ == "__main__":
    main()
