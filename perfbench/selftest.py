"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. ``BENCHMARK.json`` names exactly the metrics and workloads ``run.py``
   reports, with the same units.
2. Smoke run of every workload (``--size smoke``, ``--seconds 1``) with
   ``--trace 0`` and ``--trace 1``: exit 0, ``correct`` true, every metric
   present.
3. Negative cases: an ``audio_full`` output with one violation row removed,
   and a near-dup result with one planted pair missing, both fail the check.
4. In a directory holding only ``BENCHMARK.json`` and ``perfbench/`` the
   benchmark exits non-zero without printing a result.

Exits 0 when every case passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work", "selftest")


def _bench(cwd: str, workload: str, trace: int, extra=()) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "11",
           "--seconds", "1", "--trace", str(trace), *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=400)


def check_manifest() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    errs = []
    for key, table in (("end_to_end", run.END_TO_END), ("per_layer", run.PER_LAYER)):
        declared = {m["name"]: m["unit"] for m in spec[key]}
        if declared != table:
            errs.append(f"BENCHMARK.json {key} != run.py: {set(declared) ^ set(table)}")
    from workloads import WORKLOADS

    if [w["name"] for w in spec["workloads"]] != list(WORKLOADS):
        errs.append("BENCHMARK.json workloads != workloads.WORKLOADS")
    return errs


def check_smoke() -> list[str]:
    from workloads import WORKLOADS

    errs = []
    for name in WORKLOADS:
        for trace in (0, 1):
            p = _bench(ROOT, name, trace, ("--size", "smoke"))
            tag = f"smoke {name} --trace {trace}"
            if p.returncode != 0:
                errs.append(f"{tag}: exit {p.returncode}: {p.stderr[-1500:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = run.PER_LAYER if trace else run.END_TO_END
            if not res["correct"] or res["failed"] or set(res["metrics"]) != set(want):
                errs.append(f"{tag}: {json.dumps(res)[:600]}")
            print(f"ok: {tag} ({res['attempted']} reps)", flush=True)
    return errs


def check_negative() -> list[str]:
    """Tampered outputs must fail the workload checks."""
    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    import host
    from workloads import SIZES, AudioFull, IncrementalNeardup

    errs = []
    shutil.rmtree(WORK, ignore_errors=True)
    spark = run.build_session(2, WORK)
    try:
        wl = AudioFull(spark, os.path.join(WORK, "audio"), 11, SIZES["audio_full"]["smoke"])
        wl.setup()
        summary, _ = wl.rep()
        if wl.check(summary):
            errs.append(f"untampered audio_full output fails: {wl.check(summary)}")
        # drop one violation row from the first non-empty data file
        files = sorted(
            f for f in pads.dataset(f"{summary['output']}/violations", format="parquet").files
            if pq.read_metadata(f).num_rows > 0
        )
        t = pq.read_table(files[0])
        pq.write_table(t.slice(1), files[0])
        if not wl.check(summary):
            errs.append("audio_full check accepted an output with one violation row removed")
        else:
            print("ok: audio_full rejects a removed violation row", flush=True)

        nd = IncrementalNeardup(
            spark, os.path.join(WORK, "nd"), 11, SIZES["incremental_neardup"]["smoke"]
        )
        nd.setup()
        result, _ = nd.rep()
        if nd.check(result):
            errs.append(f"untampered near-dup result fails: {nd.check(result)}")
        result["pairs"] = set(sorted(result["pairs"])[1:])
        if not nd.check(result):
            errs.append("near-dup check accepted a result missing one planted pair")
        else:
            print("ok: incremental_neardup rejects a missing planted pair", flush=True)
    finally:
        host.stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
    return errs


def check_bare_dir() -> list[str]:
    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    try:
        p = _bench(bare, "audio_full", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    last = p.stdout.strip().splitlines()[-1:] or [""]
    if p.returncode == 0 or '"correct"' in last[0]:
        return [f"bare directory: exit {p.returncode}, last line {last[0][:200]!r}"]
    print("ok: bare directory exits non-zero without a result", flush=True)
    return []


def main() -> int:
    errs = check_manifest() + check_bare_dir() + check_negative() + check_smoke()
    for e in errs:
        print("FAIL:", e)
    print("selftest:", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
