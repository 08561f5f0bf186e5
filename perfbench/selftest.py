"""Fast self-test of the benchmark harness.

    python3 perfbench/selftest.py

Runs every workload once at smoke scale (sf0.001-sized tables and a
2-file ``cmorise``), one pass each, in one process, and checks that:

* BENCHMARK.json names exactly the metrics, units and workloads the
  harness reports;
* every metric is printed by name with its unit, in both trace modes,
  and the result line has the contracted keys;
* no operation fails;
* the seed fixes the item order and the generated inputs.
"""

from __future__ import annotations

import contextlib
import dataclasses
import io
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
from datagen import make_tables  # noqa: E402
from probes import shutdown_jvm  # noqa: E402
from workloads import SMOKE_RAW, WORKLOADS, item_order  # noqa: E402


def check_spec() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def check_seeding() -> None:
    for w in WORKLOADS.values():
        for seed in range(5):
            order = item_order(w, seed)
            assert order == item_order(w, seed)
            assert sorted(order) == sorted(w.items())
        assert len({tuple(item_order(w, s)) for s in range(10)}) > 1
    a, b = make_tables(7, {}), make_tables(7, {})
    assert all(a[name].equals(b[name]) for name in a)
    assert not make_tables(8, {})["events"].equals(a["events"])


def check_workload(w) -> None:
    tiny = dataclasses.replace(w, sizes={}, raw=SMOKE_RAW if w.raw else None)
    bench = run.Bench(tiny, seed=1, trace=True, min_passes=1)
    result = bench.run(seconds=0)
    assert bench.failed == 0, f"{w.name}: {bench.failed} operations failed"
    for trace, names in ((False, run.END_TO_END), (True, run.PER_LAYER)):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rec = run.report(result, bench, trace)
        lines = [ln.split() for ln in out.getvalue().splitlines()]
        assert set(rec) == {"correct", "attempted", "failed", "metrics"}
        assert rec["metrics"].keys() == names.keys()
        for name, unit in names.items():
            assert [name, unit] in ([ln[0], ln[-1]] for ln in lines if ln), \
                f"{w.name}: {name} not printed with unit {unit}"
            assert rec["metrics"][name]["unit"] == unit


def main() -> int:
    check_spec()
    check_seeding()
    shutil.rmtree(run.WORK, ignore_errors=True)
    run.configure_env()
    try:
        for w in WORKLOADS.values():
            check_workload(w)
    finally:
        shutdown_jvm()
        shutil.rmtree(run.WORK, ignore_errors=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
