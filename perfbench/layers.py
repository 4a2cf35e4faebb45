"""The traced run: per-layer spans, counts and stage counters.

The flagship is split into *prefix plans* built from the same public calls
``plans.reverse_geocode.reverse_geocode_pages`` makes:

    P0 scan → P1 +extract → P2 +bbox/rebalance → P3 +PIP → P4 +kNN
    → P5 +localize/select

Each prefix runs through the noop sink, interleaved round by round in one
session (one round unless ``--seconds`` leaves time for more), and a layer's
time is the difference between consecutive prefix medians.  Every round also runs the real plan; its output digest must equal
P5's, so the split cannot drift from the plan it decomposes.

Stage counters come from Spark's event log, written by the traced session
only and parsed after it stops: each stage is attributed to a prefix by the
job description set before that prefix's pass.  End-to-end numbers never
come from this session; ``trace.overhead_frac`` compares its full passes
with one of the untraced session that precedes it in the same JVM.  That
session's warm-up pass warms the JVM for both; in the traced session the
stream drain runs first and starts the Python workers the rounds reuse.

Spans (layer name, start, end, parent, run id) are held in memory and
written to ``.work/spans/<run id>.json`` when the run ends.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F

import workloads
from immich_geodata_zh_tw_spark.extract.html_meta import extract_geo, extract_pages
from immich_geodata_zh_tw_spark.functions.countries import localize_country
from immich_geodata_zh_tw_spark.functions.geo import cell_expr, in_bbox
from immich_geodata_zh_tw_spark.geo import grid
from immich_geodata_zh_tw_spark.geo.distance import haversine_np
from immich_geodata_zh_tw_spark.geo.pip import PreparedGeometry
from immich_geodata_zh_tw_spark.operators import knn
from immich_geodata_zh_tw_spark.operators.pipjoin import pip_join, polygon_cells_pdf
from immich_geodata_zh_tw_spark.synth import TW_BBOX, cities, pages
from passes import check_totals, observed

#: prefix depth → the layer that depth adds
LAYERS = ["sources", "extract", "bbox", "pip", "knn", "localize"]
STAGE_COUNTERS = ["executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes"]
#: ``reverse_geocode_pages`` defaults the prefixes reproduce
RES, KNN_K = 10, 1
PLACE_COLS = ["geoname_id", "name", "admin1_code"]
ADMIN_COLS = ["county", "township", "village"]
MIN_ROUNDS = 1


class Tracer:
    """In-memory spans of one run."""

    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {"run_id": self.run_id, "id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self.t0

    def write(self, directory: Path) -> Path:
        directory.mkdir(parents=True, exist_ok=True)
        path = directory / f"{self.run_id}.json"
        path.write_text(json.dumps(self.spans, default=float))
        return path


def equivalence_col():
    """Digest of (url, county, township, village, geoname_id) per row."""
    return F.crc32(F.concat_ws("|", "url", *ADMIN_COLS,
                               F.col("geoname_id").cast("string"))
                   .cast("binary"))


def prefix_plan(spark, runner, depth: int, timings: dict):
    """The first ``depth`` + 1 layers of ``reverse_geocode_pages``, composed
    from the same public calls with the same arguments (less the plan's
    ``extract_metrics`` observation, which nothing reads).  Each call
    rebuilds every layer, so P_k's time is the build and run of layers
    0..k and consecutive differences isolate one layer."""
    pages_df = spark.read.parquet(runner.path)
    if depth == 0:
        return pages_df.select("url", "html")
    df = extract_pages(pages_df, with_text=False)
    if depth == 1:
        return df
    df = (df.filter(F.col("lat").isNotNull() & F.col("lon").isNotNull())
          .filter(in_bbox(F.col("lat"), F.col("lon"), TW_BBOX))
          .repartition(spark.sparkContext.defaultParallelism))
    if depth == 2:
        return df
    polys = runner.polys.reset_index(drop=True).copy()
    polys.insert(0, "poly_id", range(len(polys)))
    df = pip_join(spark, df, polys[["poly_id", "geometry_wkb", *ADMIN_COLS]],
                  id_col="poly_id", attr_cols=ADMIN_COLS, res=RES
                  ).drop("poly_id")
    if depth == 3:
        return df
    guard_km = KNN_K * knn.min_cell_km(
        RES, max(abs(TW_BBOX[0]), abs(TW_BBOX[1])) + 1.0)
    t0 = time.perf_counter()
    spacing_km = knn.max_nn_spacing_km(runner.places)
    timings["spacing_s"] = time.perf_counter() - t0
    timings["static_path"] = spacing_km <= guard_km
    join = knn.knn_join_static if timings["static_path"] else knn.knn_join
    df = join(spark, df, runner.places, query_id="url",
              place_cols=PLACE_COLS, res=RES, k=KNN_K)
    if depth == 4:
        return df
    df = localize_country(df.withColumn("country_code", F.lit("TW")))
    return df.select(
        "url", "lat", "lon",
        cell_expr(F.col("lat"), F.col("lon"), grid.DEFAULT_RES).alias("cell"),
        *ADMIN_COLS, *PLACE_COLS, "country_zh",
        F.round("knn_dist_km", 6).alias("knn_dist_km"))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# -- event log ---------------------------------------------------------------

def _plan_nodes(node):
    yield node
    for child in node.get("children", []):
        yield from _plan_nodes(child)


def parse_event_log(path: Path) -> dict[str, dict]:
    """Per job description: summed task counters and the output rows of the
    Python nodes (``MapInPandas`` = extract, ``ArrowEvalPython`` = the PIP
    refinement UDF), from one Spark event log file."""
    stage_desc: dict[int, str] = {}
    exec_desc: dict[int, str] = {}
    acc_node: dict[int, tuple[int, str]] = {}
    acc_sum: dict[int, int] = defaultdict(int)
    out: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerStageSubmitted":
                desc = (ev.get("Properties") or {}).get("spark.job.description")
                if desc:
                    stage_desc[ev["Stage Info"]["Stage ID"]] = desc
            elif kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                if kind.endswith("Start"):
                    exec_desc[eid] = ev.get("description") or ""
                for node in _plan_nodes(ev["sparkPlanInfo"]):
                    if node["nodeName"] in ("MapInPandas", "ArrowEvalPython"):
                        for m in node.get("metrics", []):
                            if m["name"] == "number of output rows":
                                acc_node[m["accumulatorId"]] = (
                                    eid, node["nodeName"])
            elif kind == "SparkListenerTaskEnd":
                desc = stage_desc.get(ev["Stage ID"])
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc["ID"] in acc_node:
                        acc_sum[acc["ID"]] += int(acc.get("Update") or 0)
                tm = ev.get("Task Metrics")
                if desc is None or not tm:
                    continue
                c = out[desc]
                c["executor_run_s"] += tm["Executor Run Time"] / 1e3
                c["executor_cpu_s"] += tm["Executor CPU Time"] / 1e9
                c["gc_s"] += tm["JVM GC Time"] / 1e3
                rd = tm["Shuffle Read Metrics"]
                c["shuffle_read_bytes"] += (rd["Remote Bytes Read"]
                                            + rd["Local Bytes Read"])
                c["shuffle_write_bytes"] += (
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"])
    for acc_id, total in acc_sum.items():
        eid, node = acc_node[acc_id]
        out[exec_desc.get(eid, "")][node + "_rows"] += total
    return out


# -- Spark-free kernels and counts ---------------------------------------------

def _per_item(fn, items: int, scale: float, repeats: int = 5) -> float:
    """Median seconds of ``fn()`` over ``repeats``, per item, times scale."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / max(items, 1) * scale


def kernel_timings(runner) -> dict:
    """Spark-free timings of the numpy/regex kernels, on the workload's own
    generated pages, points and places."""
    ref, places = runner.ref, runner.places
    lat = ref.points["lat"].to_numpy()
    lon = ref.points["lon"].to_numpy()
    htmls = list(pages.pages_pdf(workloads.page_ids(runner.w, runner.seed,
                                                    runner.n)[:2000])["html"])

    def extract_all():
        for h in htmls:
            extract_geo(h)

    polys = runner.polys.assign(poly_id=range(len(runner.polys)))
    cover = polygon_cells_pdf(polys, id_col="poly_id", res=RES)
    pt_cell = grid.cell_of(lat, lon, RES)
    pairs = []  # (prepared polygon, its candidate points) for 50 polygons
    for pid, cells in cover.groupby("poly_id")["cell"]:
        sel = np.isin(pt_cell, cells.to_numpy(np.int64))
        if sel.any():
            geom = PreparedGeometry(bytes(polys["geometry_wkb"].iat[pid]))
            pairs.append((geom, lon[sel], lat[sel]))
        if len(pairs) == 50:
            break
    n_tests = sum(len(x) for _, x, _ in pairs)
    place_cells = grid.cell_of(places["latitude"].to_numpy(),
                               places["longitude"].to_numpy(), RES)
    qa, qo = lat[:2000, None], lon[:2000, None]
    pa = places["latitude"].to_numpy()[None, :500]
    po = places["longitude"].to_numpy()[None, :500]
    out = {
        "kernel.extract_geo_us_per_page": (
            _per_item(extract_all, len(htmls), 1e6), "us"),
        "kernel.pip_contains_ns_per_test": (
            _per_item(lambda: [g.contains(x, y) for g, x, y in pairs],
                      n_tests, 1e9), "ns"),
        "kernel.cell_of_ns_per_point": (
            _per_item(lambda: grid.cell_of(lat, lon, RES), lat.size, 1e9), "ns"),
        "kernel.k_ring_ns_per_cell": (
            _per_item(lambda: grid.k_ring(place_cells, KNN_K),
                      place_cells.size, 1e9), "ns"),
        "kernel.haversine_ns_per_pair": (
            _per_item(lambda: haversine_np(qa, qo, pa, po),
                      qa.size * pa.size, 1e9), "ns"),
    }
    for villages, grid_n in ((500, 5), (8000, 20)):
        table = cities.cities_pdf(village_grid=grid_n)
        out[f"kernel.max_nn_spacing_{villages}_ms"] = (
            _per_item(lambda: knn.max_nn_spacing_km(table), 1, 1e3,
                      repeats=3 if villages <= 500 else 1), "ms")
    return out


def knn_counts(runner) -> dict:
    """Candidates per kNN query row and the share the ring guard settles,
    from the same grid functions the operator uses (``grid.cell_of``,
    ``grid.k_ring``) over the reference's kNN queries."""
    places = runner.places
    plat = places["latitude"].to_numpy()
    plon = places["longitude"].to_numpy()
    ring = grid.k_ring(grid.cell_of(plat, plon, RES), KNN_K)
    owner = np.repeat(np.arange(len(places)), ring.shape[1])
    ring = ring.ravel()
    keep = ring >= 0
    ring, owner = ring[keep], owner[keep]
    order = np.argsort(ring, kind="stable")
    ring, owner = ring[order], owner[order]

    qlat = runner.ref.hits["lat"].to_numpy()
    qlon = runner.ref.hits["lon"].to_numpy()
    qcell = grid.cell_of(qlat, qlon, RES)
    lo = np.searchsorted(ring, qcell, "left")
    hi = np.searchsorted(ring, qcell, "right")
    lat_step, lon_step = grid.cell_size_deg(RES)
    eff_lat = np.minimum(np.abs(qlat) + (KNN_K + 1) * lat_step, 89.999)
    guard = (KNN_K * knn._DEG_KM * knn._GUARD_SAFETY
             * np.minimum(lat_step, lon_step * np.cos(np.radians(eff_lat))))
    settled = 0
    for cell in np.unique(qcell):
        q = np.flatnonzero(qcell == cell)
        cand = owner[lo[q[0]]:hi[q[0]]]
        if cand.size == 0:
            continue
        d = haversine_np(qlat[q, None], qlon[q, None],
                         plat[None, cand], plon[None, cand]).min(axis=1)
        settled += int((d <= guard[q]).sum())
    n = max(qlat.size, 1)
    return {"knn.candidates_per_row": (float((hi - lo).sum()) / n, "count"),
            "knn.settled_frac": (settled / n, "ratio")}


# -- the traced run ----------------------------------------------------------

def untraced_pass(spark, runner, tally, run_pass) -> float | None:
    """Warm up the session, which writes no event log, and time one full
    pass in it — the base ``trace.overhead_frac`` is taken against."""
    run_pass(tally, "untraced warm-up", lambda: runner.timed_pass(spark))
    return run_pass(tally, "untraced pass", lambda: runner.timed_pass(spark))


def start_traced_session(spark, start_session):
    """Stop ``spark`` and start a session in the same JVM that writes an
    event log: a new SparkConf reads the JVM's system properties."""
    spark.sparkContext._jvm.java.lang.System.setProperty(
        "spark.eventLog.enabled", "true")
    spark.stop()
    return start_session()


def traced_round(spark, runner, tracer: Tracer, rnd: int) -> dict:
    """P0..P5, then the real plan, each through the noop sink under its own
    job description."""
    sc = spark.sparkContext
    r = {"walls": [], "obs": [], "timings": {}}
    with tracer.span("round", round=rnd):
        for depth, layer in enumerate(LAYERS):
            sc.setJobDescription(f"perfbench P{depth} r{rnd}")
            with tracer.span(f"P{depth}", layer=layer) as sp:
                obs = Observation()
                aggs = [F.count(F.lit(1)).alias("rows")]
                if depth == 1:
                    aggs.append(F.count("lat").alias("geo_rows"))
                if depth == len(LAYERS) - 1:
                    aggs.append(F.coalesce(F.sum(equivalence_col()),
                                           F.lit(0)).alias("equiv"))
                t0 = time.perf_counter()
                df = prefix_plan(spark, runner, depth, r["timings"])
                noop(df.observe(obs, *aggs))
                r["walls"].append(time.perf_counter() - t0)
                r["obs"].append(obs.get)
                sp["rows"] = r["obs"][-1]["rows"]

        sc.setJobDescription(f"perfbench full r{rnd}")
        with tracer.span("plan.reverse_geocode_pages"):
            obs, eq = Observation(), Observation()
            t0 = time.perf_counter()
            df = runner.plan(spark, spark.read.parquet(runner.path))
            r["plan_s"] = time.perf_counter() - t0
            noop(observed(df, obs).observe(
                eq, F.coalesce(F.sum(equivalence_col()), F.lit(0)).alias("equiv")))
            r["full_s"] = time.perf_counter() - t0
        sc.setJobDescription(None)
    r["full"] = obs.get
    prefix_equiv, plan_equiv = r["obs"][-1]["equiv"], eq.get["equiv"]
    errors = check_totals(r["full"]["rows"], r["full"]["digest"], runner.ref)
    if prefix_equiv != plan_equiv:
        errors.append(f"P5 digest {prefix_equiv} != reverse_geocode_pages "
                      f"digest {plan_equiv}")
    return r, errors


def traced_run(args, runner, tally, run_pass, start_session,
               work: Path) -> dict:
    tracer = Tracer()
    with tracer.span("run", workload=runner.w.name, seed=runner.seed):
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = start_session()
            start_s = time.perf_counter() - t0
        with tracer.span("session.untraced"):
            untraced = untraced_pass(spark, runner, tally, run_pass)
        spark = start_traced_session(spark, start_session)
        app_id = spark.sparkContext.applicationId

        with tracer.span("stream.incremental_reverse_geocode"):
            stream = stream_layer(spark, runner, tally, run_pass)
        rounds = []
        deadline = time.perf_counter() + args.seconds
        while (len(rounds) < MIN_ROUNDS and tally.attempted < 10
               or time.perf_counter() < deadline):
            r = run_pass(tally, f"traced round {len(rounds)}",
                         lambda: traced_round(spark, runner, tracer, len(rounds)))
            if r is not None:
                rounds.append(r)
        spark.stop()

        with tracer.span("kernels"):
            kernels = kernel_timings(runner)
            counts = knn_counts(runner)

    log_path = work / "eventlog" / app_id
    stages = parse_event_log(log_path)
    log_path.unlink()
    tracer.write(work / "spans")
    if not rounds or untraced is None:
        raise RuntimeError("every traced round or every untraced pass raised")

    def med(xs):
        return statistics.median(xs)

    def prefix_counter(depth, name):
        return med([stages.get(f"perfbench P{depth} r{i}", {}).get(name, 0.0)
                    for i in range(len(rounds))])

    def prefix_obs(depth, name):
        return med([r["obs"][depth][name] for r in rounds])

    prefix = [med([r["walls"][d] for r in rounds]) for d in range(len(LAYERS))]
    m: dict[str, tuple[float, str]] = {"session.start_s": (start_s, "s"),
                                       "sources.scan_s": (prefix[0], "s")}
    for depth in range(1, len(LAYERS)):
        m[f"{LAYERS[depth]}.s"] = (prefix[depth] - prefix[depth - 1], "s")
    for depth in range(1, len(LAYERS)):
        for name in STAGE_COUNTERS:
            delta = (prefix_counter(depth, name)
                     - prefix_counter(depth - 1, name))
            m[f"{LAYERS[depth]}.{name}"] = (
                delta, "bytes" if name.endswith("bytes") else "s")
    bbox_rows = prefix_obs(2, "rows")
    pip_python = prefix_counter(3, "ArrowEvalPython_rows")
    full = [r["full_s"] for r in rounds]
    m.update({
        "extract.python_rows": (prefix_counter(1, "MapInPandas_rows"), "count"),
        "extract.geo_rows": (prefix_obs(1, "geo_rows"), "count"),
        "bbox.rows": (bbox_rows, "count"),
        "pip.cover_rows": (runner.ref.pip_cover_rows, "count"),
        "pip.python_rows": (pip_python, "count"),
        "pip.python_rows_per_point": (pip_python / max(bbox_rows, 1), "ratio"),
        "pip.hit_frac": (prefix_obs(3, "rows") / max(pip_python, 1), "ratio"),
        "knn.static_path": (float(rounds[-1]["timings"]["static_path"]), "bool"),
        "knn.spacing_s": (med([r["timings"]["spacing_s"] for r in rounds]), "s"),
        "plan_s": (med([r["plan_s"] for r in rounds]), "s"),
        "plan.rows_out": (med([r["full"]["rows"] for r in rounds]), "count"),
        "trace.overhead_frac": ((med(full) - untraced) / untraced, "ratio"),
    })
    m.update(counts)
    m.update(stream)
    m.update(kernels)
    m["_info"] = {"rounds": len(rounds), "run_id": tracer.run_id,
                  "prefix_s": prefix, "untraced_s": untraced, "traced_s": full,
                  "reference_pip_candidates": runner.ref.pip_candidates}
    return m


def stream_layer(spark, runner, tally, run_pass) -> dict:
    """One ``incremental_reverse_geocode`` drain of the workload's input,
    checked like a stream pass, with its progress ``durationMs`` summed."""
    box = {}

    def body():
        q = runner.run_stream(spark)
        box["progress"] = [p for p in q.recentProgress if p["numInputRows"] > 0]
        return 0.0, runner.check_stream_output(spark)

    run_pass(tally, "traced stream pass", body)
    progress = box.get("progress", [])

    def total(key):
        return sum(p["durationMs"].get(key, 0) for p in progress) / 1e3

    files = [p for p in runner.stream_dirs()[0].rglob("*.parquet")]
    return {
        "stream.batches": (len(progress), "count"),
        "stream.add_batch_s": (total("addBatch"), "s"),
        "stream.query_planning_s": (total("queryPlanning"), "s"),
        "stream.wal_commit_s": (total("walCommit"), "s"),
        "stream.commit_offsets_s": (total("commitOffsets"), "s"),
        "stream.files_out": (len(files), "count"),
        "stream.bytes_out": (sum(f.stat().st_size for f in files), "bytes"),
    }
