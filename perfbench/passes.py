"""One timed pass of a workload through the package's public entry points,
and the checks each pass's output must pass.

A pass is ``plans.reverse_geocode.reverse_geocode_pages`` over the
workload's parquet input, ending at the noop sink.  The traced run also
drains the same input through ``streaming.pipeline.incremental_reverse_geocode``
(``Trigger.AvailableNow``) into parquet, from a fresh checkpoint.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

from pyspark.sql import Observation
from pyspark.sql import functions as F

import workloads
from immich_geodata_zh_tw_spark.plans.reverse_geocode import reverse_geocode_pages
from immich_geodata_zh_tw_spark.streaming.pipeline import incremental_reverse_geocode


def digest_col():
    """Spark twin of ``workloads.row_digest``."""
    return F.crc32(F.concat_ws("|", "url", "county", "township", "village")
                   .cast("binary"))


def check_totals(rows: int, digest: int, ref: workloads.Reference) -> list[str]:
    errors = []
    if rows != ref.rows:
        errors.append(f"rows {rows} != {ref.rows}")
    if digest != ref.digest:
        errors.append(f"(url, county, township, village) digest {digest} "
                      f"!= {ref.digest}")
    return errors


def observed(df, obs: Observation):
    """``df`` with its row count and digest collected as it is written."""
    return df.observe(obs, F.count(F.lit(1)).alias("rows"),
                      F.coalesce(F.sum(digest_col()), F.lit(0)).alias("digest"))


class Runner:
    """Inputs, reference and pass bodies of one workload at one seed."""

    def __init__(self, w: workloads.Workload, seed: int, work: Path, *,
                 pages: int | None = None, corrupt: bool = False):
        self.w, self.seed, self.work = w, seed, work
        self.n = pages or w.pages
        self.corrupt = corrupt
        self.pages = len(workloads.page_ids(w, seed, self.n))
        self.polys, self.places = workloads.dims(w)

    # -- set-up ------------------------------------------------------------
    def prepare(self) -> tuple[float, float]:
        """Write the input unless a previous run left it in place, and
        compute the reference, both without Spark.  Returns the seconds
        (input generation, total), which set-up time excludes."""
        t0 = time.perf_counter()
        path = workloads.input_path(self.w, self.seed, self.n, self.work)
        if not (path / "_SUCCESS").exists():
            workloads.materialize(self.w, self.seed, self.n, path)
        gen_s = time.perf_counter() - t0
        self.path = str(path)
        self.ref = workloads.reference(self.w, self.seed, n=self.n,
                                       corrupt=self.corrupt)
        return gen_s, time.perf_counter() - t0

    # -- passes --------------------------------------------------------------
    def plan(self, spark, pages_df):
        return reverse_geocode_pages(spark, pages_df, self.polys, self.places)

    def timed_pass(self, spark):
        """(seconds, errors) of the plan over the whole input to the noop
        sink, its output checked against the reference."""
        obs = Observation()
        t0 = time.perf_counter()
        self.last_plan = self.plan(spark, spark.read.parquet(self.path))
        observed(self.last_plan, obs).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        got = obs.get
        return wall, check_totals(got["rows"], got["digest"], self.ref)

    def stream_dirs(self) -> tuple[Path, Path]:
        return self.work / "stream" / "out", self.work / "stream" / "checkpoint"

    def run_stream(self, spark):
        """Drain the input as a file stream from a fresh checkpoint; returns
        the finished query."""
        out, ck = self.stream_dirs()
        shutil.rmtree(ck, ignore_errors=True)
        q = incremental_reverse_geocode(
            spark, input_path=self.path, output_path=str(out),
            checkpoint_path=str(ck), polys_pdf=self.polys,
            cities_pdf=self.places)
        q.awaitTermination()
        return q

    def check_stream_output(self, spark) -> list[str]:
        """Every committed ``batch_id=*`` row: no url missing or twice."""
        out = spark.read.parquet(str(self.stream_dirs()[0]))
        got = out.agg(F.count(F.lit(1)).alias("rows"),
                      F.count_distinct("url").alias("urls"),
                      F.coalesce(F.sum(digest_col()), F.lit(0)).alias("digest")
                      ).first()
        errors = check_totals(got["rows"], got["digest"], self.ref)
        if got["urls"] != got["rows"]:
            errors.append(f"{got['rows'] - got['urls']} duplicated urls")
        return errors

    # -- row-for-row sample ------------------------------------------------
    def sample_check(self) -> list[str]:
        """The reference's fixed sample urls, field by field, in the last
        pass's plan."""
        in_sample = F.col("url").isin(list(self.ref.sample["url"]))
        rows = self.last_plan.filter(in_sample).toPandas()
        return workloads.check_sample(rows, self.ref, self.places)
