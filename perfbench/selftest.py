"""Self-test of the benchmark at its smallest size.

    python3 perfbench/selftest.py

Checks that
  * every end-to-end and per-layer metric BENCHMARK.json names is printed,
    with its unit, on every workload, and every pass is correct;
  * the per-layer counters equal the counts the Spark-free reference makes
    (PIP candidates through the Python UDF, bbox rows, output rows);
  * a reference with one village swapped is reported as failed passes;
  * two seeds yield different inputs;
  * ``trace.overhead_frac`` is reported.
Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import math
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: smallest sizes that still make every layer run
SMALL_PAGES = {"crawl_mixed": 4000, "photos_tw8k": 2000}
SEED = 7


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
           "--pages", str(SMALL_PAGES[workload]), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                          timeout=600)
    if proc.returncode != 0:
        sys.exit(f"FAIL {' '.join(cmd)} exited {proc.returncode}:\n"
                 f"{proc.stderr[-3000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def main() -> None:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path[:0] = [str(ROOT), str(HERE)]
    import workloads

    for w in spec["workloads"]:
        name = w["name"]
        wl = workloads.WORKLOADS[name]
        a, b = (workloads.reference(wl, s, n=SMALL_PAGES[name])
                for s in (SEED, SEED + 1))
        check(a.digest != b.digest and not set(a.sample["url"])
              & set(b.sample["url"]), f"{name}: two seeds, different inputs")
        ref = a
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = run(name, trace)
            check(out["correct"] and out["failed"] == 0
                  and out["attempted"] >= 1,
                  f"{name} trace={trace}: {out['attempted']} passes correct")
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            check(got == want, f"{name} trace={trace}: every {key} metric "
                  f"printed with its unit (missing {sorted(set(want) - set(got))}, "
                  f"extra {sorted(set(got) - set(want))})")
            if trace:
                m = {k: v["value"] for k, v in out["metrics"].items()}
                check(math.isfinite(m["trace.overhead_frac"]),
                      f"{name}: trace.overhead_frac = {m['trace.overhead_frac']:.3f}")
                check(m["pip.python_rows"] == ref.pip_candidates
                      and m["bbox.rows"] == ref.in_bbox_points
                      and m["plan.rows_out"] == ref.rows,
                      f"{name}: counters match the Spark-free counts "
                      f"(pip.python_rows {m['pip.python_rows']:.0f} vs "
                      f"{ref.pip_candidates})")

    out = run("crawl_mixed", 0, "--corrupt-reference")
    check(not out["correct"] and out["failed"] >= 1,
          f"corrupted reference: {out['failed']} of {out['attempted']} "
          "passes reported failed")


if __name__ == "__main__":
    main()
