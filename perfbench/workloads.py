"""The benchmark's workloads and the CMOR pipeline it drives.

A workload is a list of items run in one long-lived session.  An item is
either a registry query (built by ``QUERIES[name](spark, data_dir)`` and
forced with the noop sink) or, for ``cmorise``, the CMOR pipeline
(built here from the package's public functions and forced by collecting
its write manifest).  Why each workload exists is in README.md.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

PIPELINE = "cmorise_pipeline"
#: cumulative pipeline prefixes, each ending one layer later
PREFIXES = ("scan", "calc", "resample", "write")


@dataclass(frozen=True)
class RawShape:
    """Shape of the generated raw model output: daily files of
    ``steps`` time steps on a (levels, nj, ni) grid."""
    n_days: int
    steps: int
    levels: int
    nj: int
    ni: int

    @property
    def rows_out(self) -> int:
        return self.n_days * self.levels * self.nj * self.ni

    @property
    def cells_in(self) -> int:
        return 2 * self.steps * self.rows_out  # two variables per point


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: bench-scale table sizes (rows), over datagen.SMOKE_SIZES
    sizes: dict = field(default_factory=dict)
    #: raw model output for the CMOR pipeline (None: no pipeline)
    raw: RawShape | None = None

    def items(self) -> list[str]:
        return ([PIPELINE] if self.raw else []) + list(self.queries)


SMOKE_RAW = RawShape(n_days=2, steps=8, levels=2, nj=6, ni=8)

WORKLOADS = {
    w.name: w for w in (
        Workload(
            "cmorise",
            ("q_pipeline_calc_resample", "q_resample_hourly",
             "q_resample_monthly", "q_calc_dsl_arithmetic", "q_moving_avg",
             "q_plevinterp_pandas"),
            sizes={"events": 100_000, "orders": 150_000, "lineitem": 60_000},
            raw=RawShape(n_days=16, steps=8, levels=4, nj=48, ni=96)),
        Workload(
            "iterative",
            ("q_cc_large_small_star", "q_pagerank", "q_kmeans_parallel_init",
             "q_spearman_rho"),
            sizes={"orders": 30_000, "lineitem": 120_000, "events": 20_000,
                   "embeddings": 1_000, "documents": 1_000}),
        Workload(
            "corpus",
            ("q_minhash_band", "q_simhash", "q_dup_ngrams", "q_bm25_topk",
             "q_text_quality", "q_lm_score", "q_cosine_topk"),
            sizes={"documents": 2_500, "embeddings": 2_000}),
    )
}


def item_order(workload: Workload, seed: int) -> list[str]:
    """The seed's permutation of the workload's items; every pass and
    every warmup uses it."""
    items = workload.items()
    return random.Random(seed).sample(items, len(items))


def cmor_pipeline(spark, paths: list[str], out_dir: str, levels: int,
                  nj: int, ni: int, upto: str = "write"):
    """select raw files → decode → derive ``var[0] - 0.5*var[1]`` →
    daily mean → attach hybrid-height z-factors → write one NetCDF-3 file
    per day.  ``upto`` stops after an earlier layer (see PREFIXES); the
    full pipeline returns the write manifest (file_key, path, n_rows,
    md5), the prefixes return the intermediate frame."""
    from pyspark.sql import functions as F

    from access_mopper_spark.functions.calc_dsl import (CalcContext,
                                                        compile_calc)
    from access_mopper_spark.operators.resample import time_resample
    from access_mopper_spark.sinks.writer import (attach_zfactors,
                                                  write_netcdf3_dataset)
    from access_mopper_spark.sources.netcdf_io import nc3_opener, scan_netcdf

    files = spark.createDataFrame([(p,) for p in paths], ["path"])
    df = scan_netcdf(files, ["temp", "salt"], opener=nc3_opener)
    if upto == "scan":
        return df
    ctx = CalcContext(dim_cols=["time", "lev", "j", "i"],
                      var_cols=["temp", "salt"])
    df = compile_calc("var[0] - 0.5*var[1]", ctx).apply(df)
    if upto == "calc":
        return df
    df = time_resample(df, "time", "1 day",
                       aggs=[F.mean("value").alias("sst")],
                       group_cols=["lev", "j", "i"],
                       closed="left", label="left")
    if upto == "resample":
        return df
    b_table = spark.createDataFrame(
        [(lv, 1.0 - 0.1 * lv, 0.95 - 0.1 * lv, 1.05 - 0.1 * lv)
         for lv in range(levels)],
        "lev int, b double, b_lo double, b_hi double")
    orog = spark.createDataFrame(
        [(j, i, float(10 * j + i)) for j in range(nj) for i in range(ni)],
        "j int, i int, orog double")
    withz = attach_zfactors(df.select("time", "lev", "j", "i", "sst"),
                            "hybrid_height", b_table, orog,
                            expected_levels=list(range(levels)))
    return write_netcdf3_dataset(
        withz.withColumn("__fk", F.date_format("time", "yyyyMMdd"))
             .select("__fk", "time", "lev", "j", "i", "sst", "b", "orog"),
        out_dir=out_dir, file_col="__fk", var_cols=["sst", "b", "orog"],
        attrs={"source_id": "SPARK-GRAFT", "source": "access_mopper_spark",
               "experiment_id": "perfbench", "frequency": "day",
               "realm": "ocean", "calendar": "proleptic_gregorian",
               "table_id": "Oday", "variant_label": "r1i1p1f1"},
        path_template="{source_id}/{frequency}", cv=True)
