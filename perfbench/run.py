"""Benchmark of access_mopper_spark: one workload per invocation, run on
``local[nproc]`` from this one Python process.

    python3 perfbench/run.py --workload cmorise --seed 1 --seconds 8 --trace 0

Run it from the repository root.  Inputs are generated from ``--seed``
under ``.perfbench_work/``; the engine sees only those files.  A run:

1. sets up ``SETUPS`` times (session start plus one smoke-scale
   execution of every workload item) and checks each smoke result
   against its DuckDB oracle;
2. runs one untimed pass over the bench-scale inputs, then timed passes
   for ``--seconds`` (at least ``MIN_PASSES``), releasing every cache
   between passes;
3. with ``--trace 1``, runs one more pass that reads Spark's status
   stores after each item, and for ``cmorise`` the pipeline's layer
   prefixes;
4. checks the CMOR pipeline's written files against the generator.

It prints every metric by name and unit, then, as the last stdout line,
one JSON object ``{"correct", "attempted", "failed", "metrics"}`` holding
the end-to-end metrics (``--trace 0``) or the per-layer ones
(``--trace 1``) named in BENCHMARK.json.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SETUPS = 3
MIN_PASSES = 3
CORES = len(os.sched_getaffinity(0))

sys.path.insert(0, HERE)
from datagen import write_raw_model_output, write_tables  # noqa: E402
from probes import (RssSampler, cache_counts, group_stats,  # noqa: E402
                    jvm_pid, release_all, shutdown_jvm)
from workloads import (PIPELINE, PREFIXES, SMOKE_RAW, WORKLOADS,  # noqa: E402
                       Workload, cmor_pipeline, item_order)

END_TO_END = {"wall_s": "s", "setup_s": "s"}
PER_LAYER = {
    "peak_rss_mb": "MB",
    "session.start_s": "s", "queries.warmup_s": "s",
    "queries.build_s": "s", "queries.exec_s": "s",
    "session.jobs": "count", "session.stages": "count",
    "session.tasks": "count", "session.task_s": "s",
    "session.busy_frac": "ratio", "session.shuffle_write_mb": "MB",
    "session.shuffle_read_mb": "MB", "session.spill_mb": "MB",
    "session.gc_s": "s", "queries.cache_entries_left": "count",
    "queries.persisted_rdds_left": "count", "sources.scan_s": "s",
    "functions.calc_s": "s", "operators.resample_s": "s",
    "sinks.write_s": "s", "sources.cells_per_s": "1/s",
    "sinks.files": "count", "sinks.bytes_out_per_in": "ratio",
    "trace.overhead_s": "s",
    **{f"{item}.s": "s" for w in WORKLOADS.values() for item in w.items()},
}
_MB = 1 << 20


def configure_env() -> None:
    """Pin the environment before the JVM starts; Spark's Python workers
    inherit it.  Everything the run writes stays under WORK."""
    import tempfile

    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TZ": "UTC",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",  # bench inputs need far less
        "TMPDIR": tmp,
    })
    time.tzset()
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)


def start_session():
    from access_mopper_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    })


class _Collected:
    """Rows already collected, shaped like the DataFrame that
    ``compare_one`` expects, so the oracle check re-runs nothing."""

    def __init__(self, columns, rows):
        self.columns, self._rows = columns, rows

    def collect(self):
        return self._rows


class Inputs:
    """One scale of generated inputs: the tables and the raw files.
    Every pipeline execution writes into a fresh directory, as a CMOR
    run does; rewriting the same files in place measured about 1 s
    slower per pass on a 4-core ext4 VM."""

    def __init__(self, tag: str, seed: int, sizes: dict, raw):
        self.data_dir = write_tables(seed, sizes, os.path.join(WORK, tag, "tables"))
        self.raw = raw
        self.out_root = os.path.join(WORK, tag, "cmor_out")
        self.raw_paths, self.expected = [], None
        if raw is not None:
            self.raw_paths, self.expected = write_raw_model_output(
                seed, os.path.join(WORK, tag, "raw"), raw.n_days, raw.steps,
                raw.levels, raw.nj, raw.ni)

    def out_dir(self, group: str) -> str:
        return os.path.join(self.out_root, group.replace(":", "_"))


class Bench:
    def __init__(self, workload: Workload, seed: int, trace: bool,
                 min_passes: int = MIN_PASSES):
        self.w, self.seed, self.trace = workload, seed, trace
        self.min_passes = min_passes
        self.order = item_order(workload, seed)
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    # ----------------------------------------------------------- items
    def fail(self, what: str, detail: str) -> None:
        self.failed += 1
        print(f"perfbench: FAILED {what}: {detail}", file=sys.stderr, flush=True)

    def run_item(self, spark, name: str, inp: Inputs, group: str,
                 collect: bool):
        """Build and force one item under its own job group.  Returns
        (build_s, exec_s, columns, rows); rows only when ``collect`` or
        for the pipeline, whose result is its write manifest."""
        from access_mopper_spark.queries import QUERIES

        self.attempted += 1
        spark.sparkContext.setJobGroup(group, name)
        t0 = time.perf_counter()
        try:
            if name == PIPELINE:
                df = cmor_pipeline(spark, inp.raw_paths, inp.out_dir(group),
                                   inp.raw.levels, inp.raw.nj, inp.raw.ni)
            else:
                df = QUERIES[name](spark, inp.data_dir)
            t1 = time.perf_counter()
            if collect or name == PIPELINE:
                rows = df.collect()
            else:
                rows = None
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        except Exception:
            self.fail(group, traceback.format_exc())
            return None
        return t1 - t0, t2 - t1, df.columns, rows

    def run_pass(self, spark, inp: Inputs, tag: str, trace: bool) -> dict:
        rec = {"items": {}, "build": 0.0, "exec": 0.0, "stats": [],
               "leakers": [], "manifest": None, "cache": (0, 0)}
        t0 = time.perf_counter()
        for name in self.order:
            group = f"{tag}:{name}"
            res = self.run_item(spark, name, inp, group, collect=False)
            if res is None:
                continue
            rec["items"][name] = res[0] + res[1]
            rec["build"] += res[0]
            rec["exec"] += res[1]
            if name == PIPELINE:
                rec["manifest"] = sorted((r.file_key, r.n_rows, r.md5)
                                         for r in res[3])
                rec["out_dir"] = inp.out_dir(group)
            if trace:
                rec["stats"].append(group_stats(spark, group))
                before, rec["cache"] = rec["cache"], cache_counts(spark)
                if any(a > b for a, b in zip(rec["cache"], before)):
                    rec["leakers"].append(name)
        rec["wall"] = time.perf_counter() - t0
        return rec

    # ----------------------------------------------------------- phases
    def setup(self, smoke: Inputs):
        """SETUPS × (session start + smoke warmup of every item); each
        warmup's results are checked against the DuckDB oracles."""
        spark, starts, warms = None, [], []
        results = []
        for k in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = start_session()
            t1 = time.perf_counter()
            got = {}
            for name in self.order:
                res = self.run_item(spark, name, smoke, f"warmup{k}:{name}",
                                    collect=True)
                if res is not None:
                    got[name] = res
            warms.append(time.perf_counter() - t1)
            starts.append(t1 - t0)
            results.append(got)
        release_all(spark)
        self.check_oracles(spark, smoke, results)
        return spark, starts, warms

    def check_oracles(self, spark, smoke: Inputs, results) -> None:
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_correctness import compare_one, connect_oracle

        from access_mopper_spark.queries import ORACLES

        con = connect_oracle(smoke.data_dir)
        try:
            for k, got in enumerate(results):
                for name, (_, _, columns, rows) in got.items():
                    if name == PIPELINE:
                        continue
                    self.attempted += 1
                    status, detail = compare_one(
                        spark, con, name,
                        lambda *_: _Collected(columns, rows),
                        ORACLES.get(name), smoke.data_dir)
                    if status != "pass":
                        self.fail(f"oracle check {name} (warmup {k})", detail)
        finally:
            con.close()

    def check_cmor_output(self, bench: Inputs, passes: list[dict]) -> None:
        """Every pass wrote the same manifest; the files read back equal
        the generator's daily means of temp - 0.5*salt."""
        import numpy as np

        from access_mopper_spark.sources.netcdf3 import read_netcdf3

        raw = self.w.raw
        written = [p for p in passes if p["manifest"] is not None]
        self.attempted += 1
        if not written or any(p["manifest"] != written[0]["manifest"]
                              for p in written):
            self.fail("cmorise manifest", "missing or differs between passes")
            return
        m = written[-1]["manifest"]
        if len(m) != raw.n_days or sum(r[1] for r in m) != raw.rows_out:
            self.fail("cmorise manifest",
                      f"{len(m)} files / {sum(r[1] for r in m)} rows, want "
                      f"{raw.n_days} / {raw.rows_out}")
            return
        for d, (key, _, _) in enumerate(m):
            self.attempted += 1
            path = os.path.join(written[-1]["out_dir"], f"{key}.nc")
            _, _, variables = read_netcdf3(path)
            sst = np.asarray(variables["sst"]["data"], dtype="f8")
            if not np.allclose(sst[0], bench.expected[d], rtol=0, atol=1e-12):
                self.fail(f"cmorise output {key}", "sst differs from generator")

    def prefixes(self, spark, bench: Inputs) -> dict:
        """Cumulative pipeline prefixes → self time of each layer."""
        cum = {}
        for upto in PREFIXES:
            self.attempted += 1
            spark.sparkContext.setJobGroup(f"prefix:{upto}", upto)
            t0 = time.perf_counter()
            try:
                df = cmor_pipeline(spark, bench.raw_paths,
                                   bench.out_dir(f"prefix:{upto}"),
                                   bench.raw.levels, bench.raw.nj,
                                   bench.raw.ni, upto=upto)
                if upto == "write":
                    df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                self.fail(f"prefix {upto}", traceback.format_exc())
                return {}
            cum[upto] = time.perf_counter() - t0
        self_s = {p: cum[p] - (cum[PREFIXES[k - 1]] if k else 0.0)
                  for k, p in enumerate(PREFIXES)}
        raw = self.w.raw
        bytes_in = sum(os.path.getsize(p) for p in bench.raw_paths)
        out_dir = bench.out_dir("prefix:write")
        outs = [os.path.join(out_dir, f) for f in os.listdir(out_dir)]
        return {
            "sources.scan_s": self_s["scan"],
            "functions.calc_s": self_s["calc"],
            "operators.resample_s": self_s["resample"],
            "sinks.write_s": self_s["write"],
            "sources.cells_per_s": raw.cells_in / cum["scan"],
            "sinks.files": len(outs),
            "sinks.bytes_out_per_in":
                sum(os.path.getsize(p) for p in outs) / bytes_in,
        }

    # ----------------------------------------------------------- run
    def run(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        smoke = Inputs("smoke", self.seed, {}, SMOKE_RAW if self.w.raw else None)
        bench = Inputs("bench", self.seed, self.w.sizes, self.w.raw)
        prep_s = time.perf_counter() - t0

        spark, starts, warms = self.setup(smoke)
        # one untimed bench-scale pass: Python workers for the wider
        # bench-scale stages start and the JIT sees bench-size batches
        warm = self.run_pass(spark, bench, "warm", False)
        release_all(spark)
        passes = []
        with RssSampler(jvm_pid()) as rss:
            t_start = time.perf_counter()
            while (len(passes) < self.min_passes
                   or time.perf_counter() - t_start < seconds):
                passes.append(self.run_pass(spark, bench,
                                            f"pass{len(passes)}", False))
                release_all(spark)
        traced = layers = None
        if self.trace:
            traced = self.run_pass(spark, bench, "traced", True)
            release_all(spark)
            if self.w.raw:
                layers = self.prefixes(spark, bench)
                release_all(spark)
        if self.w.raw:
            self.check_cmor_output(
                bench, [warm] + passes + ([traced] if traced else []))

        setup = [s + w for s, w in zip(starts, warms)]
        walls = [p["wall"] for p in passes]
        e2e = {"wall_s": statistics.median(walls),
               "setup_s": statistics.median(setup)}
        extra = {"prep_s": (prep_s, "s"), "warm_pass_s": (warm["wall"], "s"),
                 "passes": (len(passes), "count"),
                 "wall_max_s": (max(walls), "s"),
                 "fail_frac": (self.failed / max(1, self.attempted), "ratio")}
        self.notes.append(
            f"wall_s: median of {len(walls)} passes "
            f"({' '.join(f'{w:.3f}' for w in walls)}); no percentile above "
            "the median has ten samples beyond it at this count")
        per_layer = None
        if self.trace:
            per_layer = self.per_layer(starts, warms, passes, traced, layers)
            per_layer["peak_rss_mb"] = rss.peak / _MB
        return {"e2e": e2e, "per_layer": per_layer, "extra": extra}

    def per_layer(self, starts, warms, passes, traced, layers) -> dict:
        med = statistics.median
        out = dict.fromkeys(PER_LAYER, 0.0)
        out["session.start_s"] = med(starts)
        out["queries.warmup_s"] = med(warms)
        out["queries.build_s"] = med(p["build"] for p in passes)
        out["queries.exec_s"] = med(p["exec"] for p in passes)
        for name in self.order:
            out[f"{name}.s"] = med(p["items"].get(name, 0.0) for p in passes)
        if traced["stats"]:
            tot = {k: sum(s[k] for s in traced["stats"])
                   for k in traced["stats"][0]}
            out["session.jobs"] = tot["jobs"]
            out["session.stages"] = tot["stages"]
            out["session.tasks"] = tot["tasks"]
            out["session.task_s"] = tot["task_ms"] / 1e3
            out["session.busy_frac"] = tot["task_ms"] / 1e3 / (traced["wall"] * CORES)
            out["session.shuffle_write_mb"] = tot["shuffle_write_b"] / _MB
            out["session.shuffle_read_mb"] = tot["shuffle_read_b"] / _MB
            out["session.spill_mb"] = tot["spill_b"] / _MB
            out["session.gc_s"] = tot["gc_ms"] / 1e3
        entries, rdds = traced["cache"]
        out["queries.cache_entries_left"] = entries
        out["queries.persisted_rdds_left"] = rdds
        out["trace.overhead_s"] = traced["wall"] - med(p["wall"] for p in passes)
        out.update(layers or {})
        if traced["leakers"]:
            self.notes.append("items leaving cache entries: "
                              + ", ".join(traced["leakers"]))
        return out


def report(result: dict, bench: Bench, trace: bool) -> dict:
    """Print every metric by name and unit; return the JSON record."""
    def line(name, value, unit):
        print(f"{name:<36} {value:>16.6f} {unit}")

    print(f"workload {bench.w.name} seed {bench.seed} order {' '.join(bench.order)}")
    for name, value in result["e2e"].items():
        line(name, value, END_TO_END[name])
    for name, (value, unit) in result["extra"].items():
        line(name, value, unit)
    for name, value in (result["per_layer"] or {}).items():
        line(name, value, PER_LAYER[name])
    for note in bench.notes:
        print(f"note: {note}")
    chosen = result["per_layer"] if trace else result["e2e"]
    units = PER_LAYER if trace else END_TO_END
    return {"correct": bench.failed == 0, "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in chosen.items()}}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "access_mopper_spark")):
        print(f"perfbench: no access_mopper_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    bench = Bench(WORKLOADS[args.workload], args.seed, bool(args.trace))
    try:
        result = bench.run(args.seconds)
    finally:
        shutdown_jvm()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(report(result, bench, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
