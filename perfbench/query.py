"""The `query` workload: read-only operators and viewport serving.

The paper's two headline operators (assignment at all 25 zooms, the
polygon PIP join), the kNN driver loop, DBSCAN and k-means + SemDeDup,
then a closed loop of two client threads reading viewports from an MVT
store.  Nothing is written while the clock runs; the store is written
during set-up.  Every call's output is checked: counts against closed
forms, and a seeded sample against numpy or the core tile math.
"""

from __future__ import annotations

import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from inputs import knn_reference, mixture_points, pip_reference, planted_embeddings
from spans import tree_cpu_s
from tile_grid_spark.core import tms
from tile_grid_spark.functions.grid_cols import with_tiles_multizoom
from tile_grid_spark.operators.cover import cover_bbox_geographic
from tile_grid_spark.operators.dbscan import dbscan
from tile_grid_spark.operators.kmeans import kmeans_assign, semdedup
from tile_grid_spark.operators.knn import knn_join
from tile_grid_spark.operators.pip_join import generate_polygons, pip_join
from tile_grid_spark.operators.vector_tiles import encode_point_tiles, tiles_for_viewport
from tile_grid_spark.sources.io import write_partitioned

# operator inputs are prefixes (by id) of one N_POINTS point table
N_POINTS, ZOOMS = 200_000, list(range(25))  # assignment at every zoom
N_PIP, N_POLYS, PIP_ZOOM = 50_000, 50, 8
N_QUERIES, N_CANDIDATES, KNN_K, KNN_ZOOM = 100, 50_000, 5, 5
N_DBSCAN, DBSCAN_EPS_M, DBSCAN_MIN_PTS = 3_000, 40_000.0, 8
N_EMB, EMB_DIM, KMEANS_K, KMEANS_ITERS, SEMDEDUP_EPS = 2_000, 16, 16, 1, 0.92
N_STORE, SERVE_ZOOM, CLIENTS = 5_000, 10, 2
SERVE_BURST = 40  # requests in one pass of the serving mix
REFUSE_EVERY = 20  # every 20th viewport is too large for the 4096-tile guard
N_SAMPLE = 50  # points and queries checked per call
# warm-up rounds before the clock runs: the first compiles the plans and
# starts the Python workers, later ones let the JIT's second tier finish
WARMUP = 2

WM = tms().lookup("WebMercatorQuad")


def _sample(id_col: str, ids, *cols):
    """Collect the check sample's rows inside the timed aggregate."""
    return F.collect_list(
        F.when(F.col(id_col).isin([int(i) for i in ids]), F.struct(*cols))
    ).alias("sample")


class Query:
    BULK = ("assign", "pip", "knn", "dbscan", "semdedup")

    def __init__(self, spark, tracer, ledger, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.rng = np.random.default_rng(seed)
        self.cached = []
        self.detail: dict = {}
        self.layers: dict = {}
        self.engine_calls: list = []

    # ---------------------------------------------------------------- inputs
    def _table(self, name: str, columns: dict):
        """Write one input with pyarrow, then read and cache it, spread
        over every core (the file is a single split)."""
        path = f"{self.work_dir}/{name}.parquet"
        pq.write_table(pa.table(columns), path)
        df = self.spark.read.parquet(path).repartition(self.spark.sparkContext.defaultParallelism)
        df = df.cache()
        self.cached.append(df)
        df.count()
        return df

    def _polygons(self, seed: int) -> list:
        self.polys = generate_polygons(self.spark, N_POLYS, seed=seed).cache()
        self.cached.append(self.polys)
        return [(r.poly_id, list(r.ring_lon), list(r.ring_lat)) for r in self.polys.collect()]

    def generate(self, work_dir: str) -> None:
        """Inputs and the numpy/core answers for the check samples.  One
        point table; each operator reads a prefix of it by id."""
        rng = self.rng
        self.work_dir = work_dir
        lon, lat = mixture_points(rng, N_POINTS)
        emb = planted_embeddings(rng, N_EMB, EMB_DIM)
        poly_seed = int(rng.integers(1, 2**31))
        self.assign_ids = rng.choice(N_POINTS, N_SAMPLE, replace=False)
        self.pip_ids = rng.choice(N_PIP, N_SAMPLE * 8, replace=False)
        self.viewports = [self._viewport(i % REFUSE_EVERY == REFUSE_EVERY - 1) for i in range(4096)]
        # the polygon layer comes from the program's own generator, whose
        # Python workers start while the point table loads
        with ThreadPoolExecutor(1) as pool:
            rings = pool.submit(self._polygons, poly_seed)
            self.pts = self._table("points", {"pid": np.arange(N_POINTS), "lon": lon, "lat": lat})
            offsets = np.arange(0, N_EMB * EMB_DIM + 1, EMB_DIM, dtype=np.int32)
            self.emb = self._table(
                "embeddings",
                {"vec_id": np.arange(N_EMB), "embedding": pa.ListArray.from_arrays(offsets, emb.ravel())},
            )
            rings = rings.result()
        self.assign_want = {
            (int(i), z, t.x, t.y)
            for i in self.assign_ids
            for z in ZOOMS
            for t in [WM.tile(float(lon[i]), float(lat[i]), z)]
        }
        self.pip_want = {
            (int(self.pip_ids[i]), p)
            for i, p in pip_reference(lon[self.pip_ids], lat[self.pip_ids], rings)
        }
        # queries are the last N_QUERIES points, candidates the first ones
        q0 = N_POINTS - N_QUERIES
        self.queries = self._prefix(N_POINTS, "query_id").filter(F.col("query_id") >= q0)
        self.cands = self._prefix(N_CANDIDATES, "cand_id")
        self.knn_want = knn_reference(
            lon[q0 : q0 + N_SAMPLE], lat[q0 : q0 + N_SAMPLE],
            lon[:N_CANDIDATES], lat[:N_CANDIDATES], np.arange(N_CANDIDATES), KNN_K,
        )

    def _prefix(self, n: int, id_col: str = "pid"):
        return self.pts.filter(F.col("pid") < n).select(F.col("pid").alias(id_col), "lon", "lat")

    def _viewport(self, oversized: bool):
        """A screen of 4-8 x 3-6 tiles at SERVE_ZOOM centred like the
        points, or a continent-sized box (at least 240 x 170 tiles)."""
        rng = self.rng
        tile_deg = 360.0 / 2**SERVE_ZOOM
        if oversized:
            w, h = 150.0, 100.0
        else:
            w, h = tile_deg * rng.uniform(4, 8), tile_deg * rng.uniform(3, 6)
        cx, cy = (float(v[0]) for v in mixture_points(rng, 1))
        west, east = max(cx - w / 2, -180.0), min(cx + w / 2, 180.0)
        south, north = max(cy - h / 2, -85.0), min(cy + h / 2, 85.0)
        return west, south, east, north, oversized

    def _write_store(self) -> None:
        """Write the viewport store: MVT tiles of the store points,
        zoom-partitioned and range-sorted as a serving store is."""
        path = f"{self.work_dir}/mvt_store"
        tiles = encode_point_tiles(self._prefix(N_STORE), WM, SERVE_ZOOM).withColumn(
            "zoom", F.lit(SERVE_ZOOM)
        )
        write_partitioned(tiles, path)
        self.store = self.spark.read.parquet(path).filter(F.col("zoom") == SERVE_ZOOM)
        self.store_keys = {
            (int(r.tile_x), int(r.tile_y)) for r in self.store.select("tile_x", "tile_y").collect()
        }

    # ------------------------------------------------------------------- ops
    def op_assign(self):
        (row,), rec = self.tracer.call(
            "assign",
            lambda: with_tiles_multizoom(self.pts, WM, ZOOMS).agg(
                F.count(F.lit(1)).alias("n"),
                _sample("pid", self.assign_ids, "pid", "zoom", "tile_x", "tile_y"),
            ),
            lambda d: d.collect(),
        )
        got = {tuple(r) for r in row.sample}
        self.ledger.expect(
            row.n == N_POINTS * len(ZOOMS) and got == self.assign_want,
            f"assign: {row.n} rows, {len(got ^ self.assign_want)} sample tiles differ from core",
        )
        return rec, N_POINTS * len(ZOOMS)

    def op_pip(self):
        (row,), rec = self.tracer.call(
            "pip_join",
            lambda: pip_join(self._prefix(N_PIP), self.polys, WM, PIP_ZOOM).agg(
                F.count(F.lit(1)).alias("n"),
                _sample("pid", self.pip_ids, "pid", "poly_id"),
            ),
            lambda d: d.collect(),
        )
        got = {(int(r.pid), r.poly_id) for r in row.sample}
        self.ledger.expect(
            got == self.pip_want, f"pip: {len(got ^ self.pip_want)} sample pairs differ from numpy"
        )
        self.ledger.same("pip_join", row.n)
        rec["output_rows"] = row.n
        return rec, N_PIP

    def op_knn(self):
        rows, rec = self.tracer.call(
            "knn",
            lambda: knn_join(self.queries, self.cands, WM, KNN_ZOOM, KNN_K),
            lambda d: d.collect(),
        )
        got: dict[int, list] = {}
        for r in rows:
            got.setdefault(int(r.query_id), []).append((int(r["rank"]), int(r.cand_id), float(r.dist)))
        bad = 0
        for q, want in enumerate(self.knn_want, start=N_POINTS - N_QUERIES):
            have = sorted(got.get(q, []))
            # equal distances may legally swap ids; distances must agree
            if len(have) != KNN_K or any(
                abs(d - wd) > 1e-6 * max(wd, 1.0) for (_, _, d), (_, wd) in zip(have, want)
            ):
                bad += 1
        self.ledger.expect(
            len(rows) == N_QUERIES * KNN_K and bad == 0,
            f"knn: {len(rows)} rows, {bad} of {N_SAMPLE} sample queries differ from numpy",
        )
        return rec, N_QUERIES

    def op_dbscan(self):
        (row,), rec = self.tracer.call(
            "dbscan",
            lambda: dbscan(self._prefix(N_DBSCAN), WM, eps=DBSCAN_EPS_M, min_pts=DBSCAN_MIN_PTS).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("role") == "core").cast("int")).alias("core"),
                F.sum(((F.col("role") == "noise") != (F.col("cluster") == -1)).cast("int")).alias("bad"),
            ),
            lambda d: d.collect(),
        )
        self.ledger.expect(
            row.n == N_DBSCAN and row.bad == 0 and row.core > 0,
            f"dbscan: {row.n} rows, {row.core} core, {row.bad} noise/label mismatches",
        )
        self.ledger.same("dbscan", row.core)
        return rec, N_DBSCAN

    def op_semdedup(self):
        rows, rec = self.tracer.call(
            "semdedup",
            lambda: semdedup(
                kmeans_assign(self.emb, k=KMEANS_K, dim=EMB_DIM, iters=KMEANS_ITERS), eps=SEMDEDUP_EPS
            ),
            lambda d: d.collect(),
        )
        cluster = {int(r.vec_id): int(r.cluster) for r in rows}
        keep = {int(r.vec_id): int(r.keep) for r in rows}
        first: dict[int, int] = {}
        for v in sorted(cluster):
            first.setdefault(cluster[v], v)
        bad = sum(1 for v in first.values() if keep[v] != 1)
        # planted twin 4j+1 of 4j, when in the same cluster, is dropped
        bad += sum(
            1 for v in range(1, N_EMB, 4) if cluster.get(v) == cluster.get(v - 1) and keep.get(v) != 0
        )
        self.ledger.expect(len(rows) == N_EMB and bad == 0, f"semdedup: {len(rows)} rows, {bad} wrong verdicts")
        self.ledger.same("semdedup", sum(keep.values()))
        return rec, N_EMB

    # ----------------------------------------------------------------- serve
    def request(self, vp, served: list, refused: list) -> None:
        w, s, e, n, oversized = vp
        t0 = time.perf_counter()
        try:
            rows, rec = self.tracer.call(
                "serve",
                lambda: tiles_for_viewport(self.store, WM, w, s, e, n, SERVE_ZOOM),
                lambda d: d.collect(),
            )
        except ValueError:
            refused.append({"wall_s": time.perf_counter() - t0})
            self.ledger.expect(oversized, f"viewport {vp} refused")
            return
        self.ledger.expect(not oversized, f"viewport {vp} served")
        c0 = time.perf_counter()
        cover = {(t.x, t.y) for t in WM.tiles(w, s, e, n, [SERVE_ZOOM])}
        rec["cover_ms"] = (time.perf_counter() - c0) * 1e3
        rec["result_rows"] = len(rows)
        served.append(rec)
        got = {(int(r.tile_x), int(r.tile_y)) for r in rows}
        self.ledger.expect(
            len(cover) <= 4096 and got == cover & self.store_keys,
            f"viewport {vp}: {len(got ^ (cover & self.store_keys))} tiles differ",
        )

    def serve(self, seconds: float, batch: int = SERVE_BURST) -> dict:
        """CLIENTS threads, each sending the next viewport when its last
        one returns, in whole batches of `batch` requests for at most
        `seconds` (at least one batch)."""
        served, refused, errors = [], [], []
        lock = threading.Lock()
        next_vp = [0]

        def client(end: int):
            try:
                while True:
                    with lock:
                        i = next_vp[0]
                        if i >= end:
                            return
                        next_vp[0] += 1
                    self.request(self.viewports[i % len(self.viewports)], served, refused)
            except Exception as exc:  # reported as a failure below
                errors.append(repr(exc))

        t0, done = time.perf_counter(), 0
        # start another batch only if, at the mean batch time so far, it
        # ends within `seconds`
        while not done or (time.perf_counter() - t0) * (done + 1) / done <= seconds:
            end = next_vp[0] + batch
            threads = [threading.Thread(target=client, args=(end,)) for _ in range(CLIENTS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            done += 1
            if errors:
                break
        for err in errors:
            self.ledger.fail(f"serve client: {err}")
        return {"served": served, "refused": refused, "elapsed": time.perf_counter() - t0}

    # ------------------------------------------------------------------- run
    def setup(self) -> None:
        """WARMUP rounds of one checked call of every operator and four
        viewport requests; the first round writes the store before it
        serves.  The calls of a round run concurrently: cold calls mostly
        wait on code generation and the JIT, which overlap."""

        def store_then_serve():
            self._write_store()
            serve()

        def serve():
            self.serve(0.0, batch=4)

        ops = [getattr(self, "op_" + name) for name in self.BULK]
        with ThreadPoolExecutor(len(ops) + 1) as pool:
            for i in range(WARMUP):
                calls = ops + [serve if i else store_then_serve]
                for f in [pool.submit(c) for c in calls]:
                    f.result()

    def measure(self, seconds: float) -> tuple[float, float]:
        """One call of every bulk operator, then the viewport loop for
        `seconds`.  Returns (work_s, work_cpu_s): the bulk calls plus one
        batch of SERVE_BURST requests (the loop's mean), in wall and CPU
        time."""
        recs, items = {}, {}
        cpu0 = tree_cpu_s()
        for name in self.BULK:
            recs[name], items[name] = getattr(self, "op_" + name)()
        cpu1 = tree_cpu_s()
        sv = self.serve(seconds)
        share = SERVE_BURST / max(len(sv["served"]) + len(sv["refused"]), 1)
        cpu2 = tree_cpu_s()
        self._report(recs, items, sv)
        work_s = sum(r["wall_s"] for r in recs.values()) + sv["elapsed"] * share
        return work_s, (cpu1 - cpu0) + (cpu2 - cpu1) * share

    def _report(self, recs, items, sv) -> None:
        d = self.detail
        rate = {name: items[name] / recs[name]["wall_s"] for name in self.BULK}
        d["spatial.assign_per_s"] = (rate["assign"], "1/s")
        d["spatial.pip_rows_per_s"] = (rate["pip"], "1/s")
        d["spatial.knn_queries_per_s"] = (rate["knn"], "1/s")
        d["cluster.dbscan_points_per_s"] = (rate["dbscan"], "1/s")
        d["cluster.semdedup_rows_per_s"] = (rate["semdedup"], "1/s")
        lat = sorted(r["wall_s"] * 1e3 for r in sv["served"])
        d["serve.samples"] = (len(lat), "count")
        d["serve.p50_ms"] = (statistics.median(lat), "ms")
        # the highest of these percentiles with ten samples beyond it
        for q in (95, 90, 75):
            if len(lat) * (100 - q) / 100 >= 10:
                d[f"serve.p{q}_ms"] = (lat[int(len(lat) * q / 100)], "ms")
                break
        d["serve.req_per_s"] = ((len(sv["served"]) + len(sv["refused"])) / sv["elapsed"], "1/s")
        if sv["refused"]:
            d["serve.refuse_ms"] = (statistics.median(r["wall_s"] for r in sv["refused"]) * 1e3, "ms")
        if not self.tracer.enabled:
            return
        L = self.layers
        for name, r in recs.items():
            L[f"{name}.plan_s"] = r["plan_s"]
            L[f"{name}.exec_s"] = r["exec_s"]
        L["grid_cols.assign_plan_s"] = L["assign.plan_s"]
        L["grid_cols.assign_s"] = L["assign.exec_s"]
        L["cover.poly_tiles"] = cover_bbox_geographic(self.polys, WM, PIP_ZOOM).count()
        L["pip_join.plan_s"] = L["pip.plan_s"]
        L["pip_join.exec_s"] = L["pip.exec_s"]
        L["pip_join.udf_rows"] = recs["pip"]["python_rows"]
        L["pip_join.hit_ratio"] = recs["pip"]["output_rows"] / max(recs["pip"]["python_rows"], 1)
        L["knn.s"] = recs["knn"]["wall_s"]
        L["knn.jobs"] = recs["knn"]["jobs"]
        L["dbscan.s"] = recs["dbscan"]["wall_s"]
        L["dbscan.exchanges"] = recs["dbscan"]["exchanges"]
        L["kmeans.assign_s"] = L["semdedup.plan_s"]  # seeds + Lloyd rounds run eagerly
        L["kmeans.semdedup_s"] = L["semdedup.exec_s"]
        L["kmeans.jobs"] = recs["semdedup"]["jobs"]
        served = sv["served"]
        L["core.cover_ms"] = statistics.median(r["cover_ms"] for r in served)
        L["serve.plan_ms"] = statistics.median(r["plan_s"] for r in served) * 1e3
        L["serve.fetch_ms"] = statistics.median(r["exec_s"] for r in served) * 1e3
        L["serve.sched_delay_ms"] = statistics.median(r["sched_delay_ms"] for r in served)
        L["serve.scan_rows_per_result_row"] = sum(r["scan_rows"] for r in served) / max(
            sum(r["result_rows"] for r in served), 1
        )
        self.engine_calls = list(recs.values()) + served

    def release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached.clear()
