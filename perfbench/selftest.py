"""Benchmark self-test, every workload at a tiny size.

    python3 perfbench/selftest.py

Run from the repository root. For each workload it checks that

1. the CLI at ``--size tiny`` exits 0 and its last line reports
   ``correct: true`` and exactly the metric names and units BENCHMARK.json
   declares (end-to-end untraced, per-layer traced);
2. each correctness gate passes on the real outputs and fails on a
   deliberately corrupted copy of them (checked in one process).

Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def check_cli(workload: str, spec: dict) -> list[str]:
    errors = []
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
             "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=600,
        )
        tag = f"{workload} trace={trace}"
        if p.returncode != 0:
            errors.append(f"{tag}: exit {p.returncode}: {p.stderr[-2000:]}")
            continue
        out = json.loads(p.stdout.strip().splitlines()[-1])
        if set(out) != {"correct", "attempted", "failed", "metrics"}:
            errors.append(f"{tag}: result keys {sorted(out)}")
        if out.get("correct") is not True or out.get("failed") != 0 or out.get("attempted", 0) < 1:
            errors.append(f"{tag}: correct={out.get('correct')} failed={out.get('failed')}")
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v.get("unit") for k, v in out.get("metrics", {}).items()}
        if got != want:
            errors.append(f"{tag}: metrics differ from BENCHMARK.json {key}: "
                          f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                          f"units {[k for k in want if k in got and got[k] != want[k]]}")
        if not all(isinstance(v.get("value"), (int, float)) for v in out.get("metrics", {}).values()):
            errors.append(f"{tag}: a metric value is not a number")
    return errors


def first_nonempty_parquet(path: str) -> str:
    import pyarrow.parquet as pq

    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return next(f for f in files if pq.read_metadata(f).num_rows > 0)


def corrupt_features(w, spark) -> list[str]:
    import pyarrow as pa
    import pyarrow.parquet as pq

    errors = []
    for j, (kind, prm, ans) in enumerate(w.answers):
        w.answers[j] = (kind, prm, "corrupted")
        if w.check(spark)[1] == 0:
            errors.append(f"features: gate passed a corrupted {kind} answer")
        w.answers[j] = (kind, prm, ans)
    path = first_nonempty_parquet(w.last["feat_dir"])
    t = pq.read_table(path)
    col = t.schema.get_field_index("__feat")
    bent = [[x + 1e-3 for x in row] for row in t.column(col).to_pylist()]
    pq.write_table(t.set_column(col, t.schema.field(col), pa.array(bent, t.schema.field(col).type)), path)
    if w.check(spark)[1] == 0:
        errors.append("features: gate passed corrupted feature files")
    return errors


def corrupt_curation(w, spark) -> list[str]:
    errors = []
    good = w.digests[0]
    w.digests[0] = "0" * 64
    if w.check(spark)[1] == 0:
        errors.append("curation: gate passed a corrupted manifest")
    w.digests[0] = good
    part = first_nonempty_parquet(w.sinks[0])
    shutil.copy(part, os.path.join(w.sinks[0], "dup-" + os.path.basename(part)))
    if w.check(spark)[1] == 0:
        errors.append("curation: gate passed a sink holding a replayed document twice")
    return errors


CORRUPT = {"features": corrupt_features, "curation": corrupt_curation}


def check_gates() -> list[str]:
    from perfbench import run
    from perfbench.trace import Tracer
    from perfbench.workloads import SIZES, WORKLOADS

    out_dir = ROOT / ".perfbench"
    out_dir.mkdir(exist_ok=True)
    rundir = tempfile.mkdtemp(prefix="selftest-", dir=out_dir)
    run.pin_environment(rundir)
    sess = run.Session()
    errors = []
    try:
        spark = sess.start()
        for name, cls in WORKLOADS.items():
            w = cls(os.path.join(rundir, name), 7, SIZES["tiny"], Tracer(False, name))
            os.makedirs(w.workdir)
            w.generate()
            w.on_session(spark)
            w.run_pass(spark, 0)
            checked, wrong = w.check(spark)
            if checked < 1 or wrong:
                errors.append(f"{name}: gate rejected real outputs ({wrong}/{checked})")
                continue
            errors += CORRUPT[name](w, spark)
    finally:
        sess.shutdown()
        shutil.rmtree(rundir, ignore_errors=True)
    return errors


def main() -> int:
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    from perfbench.workloads import WORKLOADS

    names = [w["name"] for w in spec["workloads"]]
    errors = [] if set(names) == set(WORKLOADS) else [f"BENCHMARK.json workloads {names}"]
    if set(CORRUPT) != set(WORKLOADS):
        errors.append("a workload has no gate corruption test")
    for name in names:
        errors += check_cli(name, spec)
    errors += check_gates()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
