"""Fast self-test of the benchmark itself (a few minutes on 4 cores).

    python3 perfbench/selftest.py

For each workload, on small inputs (star tables at a tenth of the normal
size, one short ETL cadence):

- an untraced run reports every end-to-end metric of ``BENCHMARK.json``
  with its unit and passes its correctness checks;
- a traced run whose expected results are deliberately corrupted reports
  every per-layer metric with its unit, and counts every operation as
  failed, so a wrong result cannot read as ``error_rate`` 0.

Then each probe in ``KNOWN_FAILING``, a cadence on which the engine is
known to be wrong at this commit, must still report the failure. When a
probe starts to pass, the defect is fixed: run its cadence in the
benchmark workload and drop the probe.

Each run is its own process, as in a real run: a JVM cannot be
relaunched under module-level UDF objects bound to the previous one.
Exits non-zero on the first failed expectation.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# probe workload -> the engine defect its checks catch at this commit
KNOWN_FAILING = {
    "etl_rotating_keys": "reference_pipeline.load_star overwrites dim_subreddit each tick (see README.md)",
}
RUN = (
    "import json, sys; sys.path.insert(0, {root!r}); from perfbench.run import execute; "
    "print(json.dumps(execute({wl!r}, seed=7, seconds=0, trace={trace}, star_scale=0.1, corrupt={corrupt})))"
)


def _run(wl: str, trace: bool, corrupt: bool) -> dict:
    code = RUN.format(root=ROOT, wl=wl, trace=trace, corrupt=corrupt)
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, stdout=subprocess.PIPE, check=True, text=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok: {what}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, corrupt, declared in ((False, False, spec["end_to_end"]), (True, True, spec["per_layer"])):
            res = _run(wl, trace, corrupt)
            got = res["metrics"]
            for m in declared:
                _expect(m["name"] in got and got[m["name"]]["unit"] == m["unit"],
                        f"{wl} trace={int(trace)}: {m['name']} reported in {m['unit']}")
            _expect(set(got) == {m["name"] for m in declared}, f"{wl} trace={int(trace)}: no undeclared metrics")
            if corrupt:
                _expect(res["failed"] == res["attempted"] and not res["correct"],
                        f"{wl}: corrupted expectation counts every operation as failed")
            else:
                _expect(res["failed"] == 0 and res["correct"], f"{wl}: outputs correct")
    for wl, defect in KNOWN_FAILING.items():
        res = _run(wl, False, False)
        _expect(res["failed"] > 0 and not res["correct"], f"{wl}: known failure reported: {defect}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
