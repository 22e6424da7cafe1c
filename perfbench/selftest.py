#!/usr/bin/env python3
"""Self-test of the pipeline benchmark.

Run from the repository root:

    python3 perfbench/selftest.py

1. A tiny run of every workload BENCHMARK.json declares, untraced and
   traced, must pass its output check and emit exactly the declared metrics.
2. A deliberately corrupted output must fail the check: one session_id
   altered in a batch output; in a streaming output, one session's event
   count altered, or a final watermark other than the one the input fixes.
"""
import glob
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import run  # noqa: E402


def rewrite_one_row(con, files, column, expr):
    """Replaces `column` of one row of the first non-empty output file with `expr`."""
    f = next(f for f in sorted(files)
             if con.execute(f"SELECT count(*) FROM read_parquet({check._lit(f)})").fetchone()[0])
    tmp = f + ".tmp"
    src = check._lit(f)
    con.execute(f"""COPY (SELECT * REPLACE (CASE WHEN rn = 1 THEN {expr} ELSE {column} END
                                          AS {column})
                      FROM (SELECT *, row_number() OVER () AS rn FROM read_parquet({src})))
                 TO {check._lit(tmp)} (FORMAT parquet)""")
    con.execute(f"""COPY (SELECT * EXCLUDE (rn) FROM read_parquet({check._lit(tmp)}))
                 TO {src} (FORMAT parquet)""")
    os.remove(tmp)


def expect_failure(fn, what):
    try:
        fn()
    except check.CheckFailed as e:
        print(f"ok: corrupted {what} fails the check: {e}")
        return
    raise SystemExit(f"FAIL: corrupted {what} passed the check")


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"] for m in bench["end_to_end"]}
    layer = {m["name"] for m in bench["per_layer"]}
    for w in [w["name"] for w in bench["workloads"]]:
        for trace in (0, 1):
            report, work = run.run(["--workload", w, "--seed", "5", "--seconds", "1",
                                    "--trace", str(trace)], tiny=True, keep=True)
            try:
                res = report["result"]
                want = layer if trace else e2e
                if not res["correct"]:
                    raise SystemExit(f"FAIL: {w} trace={trace}: {report['error']}")
                if set(res["metrics"]) != want:
                    raise SystemExit(f"FAIL: {w} trace={trace} metrics differ: "
                                     f"{sorted(set(res['metrics']) ^ want)}")
                print(f"ok: {w} trace={trace} emits all {len(want)} metrics")
                if trace == 0:
                    corrupt(w, work, report)
            finally:
                shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")


def corrupt(workload, work, report):
    batch = report["batch"]
    ref = check.Reference(os.path.join(work, "data"), batch)
    pass_dir = report["passes"][0]["dir"]
    if batch:
        out = os.path.join(pass_dir, "sessions")
        ref.check_batch(out)
        files = glob.glob(os.path.join(out, "**", "*.parquet"), recursive=True)
        rewrite_one_row(ref.con, files, "session_id", "'corrupted'")
        expect_failure(lambda: ref.check_batch(out), f"{workload} session_id")
    else:
        out = os.path.join(pass_dir, "out")
        wm = report["passes"][0]["watermark_us"]
        ref.check_stream(out, wm)
        expect_failure(lambda: ref.check_stream(out, 0),
                       f"{workload} final watermark")
        rewrite_one_row(ref.con, glob.glob(os.path.join(out, "*.parquet")),
                        "n_events", "n_events + 1")
        expect_failure(lambda: ref.check_stream(out, wm), f"{workload} n_events")


if __name__ == "__main__":
    main()
