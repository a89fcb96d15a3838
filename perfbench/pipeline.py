"""The `pipeline` workload: the resumable tiling job users run.

A fresh `run_pipeline` over a pre-generated image table, then an
immediate re-run that must skip every unit.  Every stage writes parquet
and fingerprints it, so this is the write-heavy workload and the only one
that drives `plans.lineage`, `sources.io` and MinHash caption dedup.
"""

from __future__ import annotations

import os
import shutil
import time
from collections import Counter

import pyarrow.parquet as pq

from inputs import pip_reference
from spans import tree_cpu_s
from jobs.run_pipeline import run_pipeline
from tile_grid_spark.core import tms
from tile_grid_spark.plans.lineage import LineageLog, dataset_fingerprint
from tile_grid_spark.sources.datagen import generate_images

N_IMAGES = 1000
# The job's deepest default level as its only zoom, and the job stops
# after its export stage: the pyramid (which needs a second level),
# raster, mvt and mvt_pyramid stages are left out to keep a run inside
# the benchmark's time budget (README.md).
ZOOMS = [8]
STOP_AFTER = "export"
N_POLYS = 200
# the job's caption dedup: word 3-shingles, MinHash k=16 in 8 bands,
# verified pairs with Jaccard >= 0.4
SHINGLE_N, DEDUP_JACCARD = 3, 0.4
# Captions that share their adjective and noun have Jaccard 4/6, which
# 8 bands of 2 rows find with probability 1 - (1 - (2/3)**2)**8 = 0.991;
# the check asks for 0.9 of the true pairs.
DEDUP_RECALL = 0.9

WM = tms().lookup("WebMercatorQuad")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def _shingles(caption: str) -> frozenset:
    toks = caption.strip().lower().split()
    if len(toks) < SHINGLE_N:
        return frozenset([" ".join(toks)])
    return frozenset(" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1))


def caption_pairs(ids, captions) -> tuple[dict, set]:
    """{(id_a, id_b): Jaccard} of every caption pair at or above the
    dedup threshold (id_a < id_b), and the pairs whose shingle sets are
    identical: identical sets give identical MinHash signatures, so
    they collide in every band and must all be found."""
    docs = sorted(zip(ids, (_shingles(c) for c in captions)))
    pairs, same = {}, set()
    for i, (a, sa) in enumerate(docs):
        for b, sb in docs[i + 1 :]:
            j = len(sa & sb) / len(sa | sb)
            if j >= DEDUP_JACCARD:
                pairs[(a, b)] = j
                if sa == sb:
                    same.add((a, b))
    return pairs, same


class Pipeline:
    def __init__(self, spark, tracer, ledger, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.seed = seed
        self.detail: dict = {}
        self.layers: dict = {}
        self.engine_calls: list = []

    def generate(self, work_dir: str) -> None:
        self.images = os.path.join(work_dir, "images")
        generate_images(self.spark, N_IMAGES, seed=self.seed).write.mode("overwrite").parquet(
            self.images
        )
        t = pq.read_table(self.images, columns=["image_id", "lon", "lat", "caption"])
        self.lon = t.column("lon").to_numpy()
        self.lat = t.column("lat").to_numpy()
        deep = max(ZOOMS)
        tiles = (WM.tile(float(x), float(y), deep) for x, y in zip(self.lon, self.lat))
        self.tiles = len({(t.x, t.y) for t in tiles})
        self.dedup_want, self.dedup_same = caption_pairs(
            t.column("image_id").to_pylist(), t.column("caption").to_pylist()
        )
        self.input_bytes = _dir_bytes(self.images)
        self.work_dir = work_dir

    def _expected(self, out: str) -> dict:
        """Closed-form lineage row counts: each follows from the input
        alone (distinct tiles, numpy polygon hits, shard count)."""
        deep = max(ZOOMS)
        polys = pq.read_table(os.path.join(out, "polys", "unit=layer")).to_pylist()
        pip = pip_reference(
            self.lon, self.lat, [(p["poly_id"], p["ring_lon"], p["ring_lat"]) for p in polys]
        )
        want = {("ingest", "images"): N_IMAGES, ("polys", "layer"): N_POLYS}
        want.update({("assign", str(z)): N_IMAGES for z in ZOOMS})
        for stage in ("stats", "hotspot", "sketches"):
            want[(stage, f"z{deep}")] = self.tiles
        want[("pip", f"z{min(deep, 8)}")] = len(pip)
        want[("cluster", "components")] = N_IMAGES
        want[("export", "shards")] = 4
        return want

    def _check_dedup(self, out: str) -> None:
        t = pq.read_table(os.path.join(out, "dedup", "unit=captions"))
        got = list(zip(*(t.column(c).to_pylist() for c in ("id_a", "id_b", "jaccard"))))
        found = {(a, b) for a, b, _ in got}
        wrong = [
            (a, b, j) for a, b, j in got
            if (a, b) not in self.dedup_want or abs(j - self.dedup_want[(a, b)]) > 1e-6
        ]
        self.ledger.expect(
            not wrong and len(found) == len(got),
            f"dedup: {len(wrong)} pairs not at their Jaccard, {len(got) - len(found)} repeated",
        )
        self.ledger.expect(
            self.dedup_same <= found,
            f"dedup: {len(self.dedup_same - found)} identical-caption pairs missed",
        )
        self.ledger.expect(
            len(found) >= DEDUP_RECALL * len(self.dedup_want),
            f"dedup: found {len(found)} of {len(self.dedup_want)} pairs",
        )

    def _check(self, out: str, again: dict, lineage: list) -> None:
        ran = sum(len(r.ran_units) for r in again.values())
        self.ledger.expect(ran == 0, f"resume re-ran {ran} units")
        got = {(r.stage, r.unit): r.row_count for r in lineage}
        dup = [k for k, v in Counter((r.stage, r.unit) for r in lineage).items() if v > 1]
        self.ledger.expect(not dup, f"units logged twice: {dup}")
        want = self._expected(out)
        want_units = set(want) | {("dedup", "captions")}
        self.ledger.expect(want_units == set(got), f"units run: {sorted(got)}")
        for key, n in want.items():
            self.ledger.expect(got.get(key) == n, f"lineage {key}: {got.get(key)} rows, want {n}")
        self._check_dedup(out)

    def _trace_layers(self, out, lineage, rec, rec_resume) -> None:
        L = self.layers
        stage_s = Counter()
        for r in lineage:
            stage_s[r.stage] += r.wall_sec
            # the job logs each unit's wall time and end time
            self.tracer.add_span(f"stage.{r.stage}.{r.unit}", r.ts - r.wall_sec, r.ts, rec["span"])
        for stage, s in stage_s.items():
            L[f"stage.{stage}.s"] = s
        t0 = time.perf_counter()
        for r in lineage:
            dataset_fingerprint(self.spark.read.parquet(os.path.join(out, r.stage, f"unit={r.unit}")))
        L["lineage.fingerprint_s"] = time.perf_counter() - t0
        L["lineage.units"] = len(lineage)
        L["dedup.caption_pairs"] = sum(r.row_count for r in lineage if r.stage == "dedup")
        self.engine_calls = [rec, rec_resume]

    def setup(self) -> None:
        """Start the Python workers and compile the parquet write/read
        path; a whole warm-up pipeline would double the run (see README)."""
        self.spark.read.parquet(self.images).selectExpr("count(*)", "max(length(caption))").collect()

    def measure(self, seconds: float) -> tuple[float, float]:
        """One fresh run and its resume; the job sets the length, not
        `seconds`.  Returns (work_s, work_cpu_s) over both runs; the
        output checks run after the CPU window."""
        out = os.path.join(self.work_dir, "out")

        def job(_):
            return run_pipeline(
                self.spark, out, images_in=self.images, zooms=ZOOMS, seed=self.seed,
                n_polys=N_POLYS, stop_after=STOP_AFTER, verbose=False,
            )

        try:
            cpu0 = tree_cpu_s()
            _, rec = self.tracer.call("run_pipeline", lambda: None, job)
            again, rec_resume = self.tracer.call("resume", lambda: None, job)
            work_cpu_s = tree_cpu_s() - cpu0
            written = _dir_bytes(out)
            lineage = LineageLog(self.spark, out).summary().collect()
            self._check(out, again, lineage)
            if self.tracer.enabled:
                self._trace_layers(out, lineage, rec, rec_resume)
        finally:
            shutil.rmtree(out, ignore_errors=True)
        f, r = rec["wall_s"], rec_resume["wall_s"]
        self.detail["pipeline.images_per_s"] = (N_IMAGES / f, "1/s")
        self.detail["pipeline.fresh_s"] = (f, "s")
        self.detail["pipeline.resume_s"] = (r, "s")
        self.detail["pipeline.bytes_per_input_byte"] = (written / self.input_bytes, "ratio")
        return f + r, work_cpu_s
