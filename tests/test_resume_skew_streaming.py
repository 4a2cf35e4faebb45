"""Manifest resumability, skew handling A/B equivalence, streaming ingest."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from immich_geodata_zh_tw_spark.skew import salting
from immich_geodata_zh_tw_spark.sources import manifest
from immich_geodata_zh_tw_spark.synth import cities, pages, polygons


class TestManifest:
    def test_batch_cadence_preserves_work_on_failure(self, spark, tmp_path):
        """R3 checkpoint cadence (reference flush-every-N): with
        batch_size=2, a crash in the middle of the run loses at most one
        batch — earlier batches are already manifest-committed and a re-run
        picks up exactly the remainder."""
        out = str(tmp_path / "out")
        man = str(tmp_path / "manifest")
        df = (spark.range(0, 600)
              .withColumn("split", (F.col("id") % 6).cast("int")))
        calls = {"n": 0}

        def flaky(sub):
            calls["n"] += 1
            if calls["n"] == 3:  # third batch (splits 4,5) dies mid-run
                raise RuntimeError("simulated mid-run failure")
            return sub

        with pytest.raises(RuntimeError):
            manifest.checkpointed_run(spark, df, split_col="split",
                                      process=flaky, output_path=out,
                                      manifest_path=man, batch_size=2)
        committed = {r.split_id for r in
                     manifest.completed_splits(spark, man).collect()}
        assert committed == {0, 1, 2, 3}  # first two batches survived
        r = manifest.checkpointed_run(spark, df, split_col="split",
                                      process=lambda s: s, output_path=out,
                                      manifest_path=man, batch_size=2)
        assert r["processed_splits"] == 2  # only the lost batch re-ran
        assert spark.read.parquet(out).count() == 600

    def test_full_then_resume(self, spark, tmp_path):
        out = str(tmp_path / "out")
        man = str(tmp_path / "manifest")
        df = (spark.range(0, 1000)
              .withColumn("split", (F.col("id") % 10).cast("int"))
              .withColumn("v", F.col("id") * 2))

        def process(sub):
            return sub.withColumn("v2", F.col("v") + 1)

        # first run: only splits 0-4 visible (simulates a partial run)
        r1 = manifest.checkpointed_run(
            spark, df.filter(F.col("split") < 5), split_col="split",
            process=process, output_path=out, manifest_path=man)
        assert r1["processed_splits"] == 5

        # second run over the full input: resumes, processes only 5-9
        r2 = manifest.checkpointed_run(
            spark, df, split_col="split", process=process,
            output_path=out, manifest_path=man)
        assert r2["processed_splits"] == 5

        final = spark.read.parquet(out)
        assert final.count() == 1000
        assert final.select(F.sum("v2")).first()[0] == sum(i * 2 + 1 for i in range(1000))

        # third run: nothing pending
        r3 = manifest.checkpointed_run(
            spark, df, split_col="split", process=process,
            output_path=out, manifest_path=man)
        assert r3["processed_splits"] == 0

        # manifest carries lineage + metrics per split
        m = spark.read.parquet(man).toPandas()
        assert set(m["split_id"]) == set(range(10))
        assert (m["row_count"] == 100).all()
        assert m["input_fingerprint"].notna().all()
        assert (m["schema_version"] == manifest.MANIFEST_SCHEMA_VERSION).all()

    def test_rerun_is_idempotent(self, spark, tmp_path):
        out = str(tmp_path / "out")
        man = str(tmp_path / "manifest")
        df = (spark.range(0, 100)
              .withColumn("split", (F.col("id") % 4).cast("int")))
        process = lambda sub: sub  # noqa: E731
        manifest.checkpointed_run(spark, df, split_col="split", process=process,
                                  output_path=out, manifest_path=man)
        # wipe two manifest splits → those splits re-run and overwrite
        # (materialize before overwriting the path we read from)
        m_pdf = spark.read.parquet(man).filter(F.col("split_id") < 2).toPandas()
        spark.createDataFrame(m_pdf).write.mode("overwrite").parquet(man)
        manifest.checkpointed_run(spark, df, split_col="split", process=process,
                                  output_path=out, manifest_path=man)
        assert spark.read.parquet(out).count() == 100  # no duplicates


class TestSkew:
    def test_salted_repartition_preserves_rows(self, spark):
        ids = np.arange(5000)
        lat, lon = pages.page_coords(ids)
        pdf = pd.DataFrame({"id": ids, "lat": lat, "lon": lon}).dropna()
        df = spark.createDataFrame(pdf)
        df = df.withColumn("cell", F.lit(None).cast("long"))
        from immich_geodata_zh_tw_spark.functions.geo import cell_expr
        df = df.withColumn("cell", cell_expr(F.col("lat"), F.col("lon"), 8))
        hist = df.groupBy("cell").count().orderBy(F.desc("count")).limit(2).collect()
        hot = [r.cell for r in hist]
        salted = salting.salted_repartition(df, "cell", factor=8, hot_keys=hot)
        assert salted.count() == df.count()
        # hot keys spread over >1 salt, cold keys all salt 0
        spread = (salted.filter(F.col("cell").isin(hot))
                  .select("salt").distinct().count())
        assert spread > 1
        cold = (salted.filter(~F.col("cell").isin(hot))
                .select("salt").distinct().collect())
        assert [r.salt for r in cold] == [0]

    def test_adaptive_cell_split_bounds_and_equivalence(self, spark):
        ids = np.arange(20000)
        lat, lon = pages.page_coords(ids)
        pdf = pd.DataFrame({"id": ids, "lat": lat, "lon": lon}).dropna()
        df = spark.createDataFrame(pdf)
        out = salting.adaptive_cell_split(df, res=6, threshold=2000, delta=2)
        sizes = out.groupBy("acell").count().toPandas()
        from immich_geodata_zh_tw_spark.geo import grid
        res_of = grid.cell_res(sizes["acell"].to_numpy())
        assert (res_of == 8).any() and (res_of == 6).any()  # mixed resolution
        # A/B: total rows and per-row identity preserved
        assert out.count() == df.count()
        # every split cell's rows still belong to the hot coarse parent
        fine = sizes[res_of == 8]
        hot_parents = set(
            grid.cell_to_parent(fine["acell"].to_numpy(), 6).tolist())
        hist = salting.cell_histogram(df, res=6).filter(F.col("n") > 2000)
        assert hot_parents == {r.cell for r in hist.collect()}


class TestStreamingIngest:
    def test_incremental_batches_resume(self, spark, tmp_path):
        from immich_geodata_zh_tw_spark.streaming.pipeline import (
            incremental_reverse_geocode)

        inp = str(tmp_path / "in")
        outp = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        polys = polygons.admin_polygons_pdf(village_grid=3)
        cts = cities.cities_pdf(village_grid=3)

        pages.pages_df(spark, 300).write.mode("append").parquet(inp)
        q = incremental_reverse_geocode(
            spark, input_path=inp, output_path=outp, checkpoint_path=ckpt,
            polys_pdf=polys, cities_pdf=cts)
        q.awaitTermination(120)
        n1 = spark.read.parquet(outp).count()
        assert n1 > 0

        # new files arrive; restart drains ONLY the new ones (commit log)
        extra = pages.pages_df(spark, 200, start=10_000)
        extra.write.mode("append").parquet(inp)
        q2 = incremental_reverse_geocode(
            spark, input_path=inp, output_path=outp, checkpoint_path=ckpt,
            polys_pdf=polys, cities_pdf=cts)
        q2.awaitTermination(120)
        n2 = spark.read.parquet(outp).count()
        assert n2 > n1
        # urls unique: the first 300 pages were not reprocessed
        out = spark.read.parquet(outp)
        assert out.select("url").distinct().count() == out.count()

    def test_fresh_checkpoint_rerun_leaves_no_orphans(self, spark, tmp_path):
        """Round-2 VERDICT item 10: deleting the checkpoint and re-running
        must not mix stale batch_id dirs from the prior lineage into reads."""
        import shutil

        from immich_geodata_zh_tw_spark.streaming.pipeline import (
            incremental_reverse_geocode)

        inp = str(tmp_path / "in")
        outp = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        polys = polygons.admin_polygons_pdf(village_grid=3)
        cts = cities.cities_pdf(village_grid=3)

        pages.pages_df(spark, 200).write.mode("append").parquet(inp)
        q = incremental_reverse_geocode(
            spark, input_path=inp, output_path=outp, checkpoint_path=ckpt,
            polys_pdf=polys, cities_pdf=cts)
        q.awaitTermination(120)
        n1 = spark.read.parquet(outp).count()

        shutil.rmtree(ckpt)  # fresh lineage: same input reprocesses
        q2 = incremental_reverse_geocode(
            spark, input_path=inp, output_path=outp, checkpoint_path=ckpt,
            polys_pdf=polys, cities_pdf=cts)
        q2.awaitTermination(120)
        out = spark.read.parquet(outp)
        assert out.count() == n1  # no doubled rows from orphaned dirs
        assert out.select("url").distinct().count() == out.count()

