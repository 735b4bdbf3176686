"""One benchmark run: set up, then rounds of build -> serve -> join.

Every workload runs the same user-visible cycle on its own inputs, so
every metric exists on every workload:

1. setup: session start, seeded input tables, one full-size warm-up
   build (the cold JVM, its JIT and the Python-worker start are paid
   here), the lookup key stream, ``WARM_LOOKUPS`` unmeasured lookups
   and the join's reference counts;
2. rounds, repeated for at least ``--seconds`` seconds and at least
   ``MIN_ROUNDS`` times, each of them
   - a ``build_planet`` over the pages table,
   - ``LOOKUPS_PER_ROUND`` closed-loop single-tile lookups through
     ``open_planet`` and ``tile_lookup`` on the warm-up planet,
   - one pass of the broadcast and the partitioned point-in-polygon
     join over the warm-up planet's points.
   ``build_s``, ``pip_s`` and ``serve_p50_ms`` are medians over the
   rounds (over all lookups for serve). The JVM keeps warming for many
   builds after the first (5.3, 4.6, 4.4, 4.3 ... 3.4 s over ten warm
   builds of one session), so a single sample taken right after the
   warm-up lands on the steep part of that curve; the median of rounds
   does not, and interleaving the three phases spreads a slow spell of
   the host over all three instead of over one.

Traced runs measure the same phases once each, then the paths whose
walls do not fit a timed run (per-layer metrics only): their warm-up
build is a mixed build with synthetic ways and relations, and after the
join they drain a crawl batch into the planet through
``run_incremental_build`` and serve lookups over the resulting
generation view.

Each phase checks its outputs; a failed check counts as a failed
operation and makes the run incorrect.
"""

from __future__ import annotations

import contextlib
import gc
import hashlib
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pyarrow.dataset as pads

import inputs
import spans

# Sizes, measured with local[4] on a 4-core host. The benchmark's 48 runs
# share a 3420 s budget, and CPU steal by other guests slows a run by up
# to 1.5x, so a timed run aims at ~60 s and a traced one at ~115 s on a
# quiet host. Session start plus the cold warm-up build take ~28 s of it.
# - 5k pages: build walls are fixed-cost bound at these sizes (warm
#   ~5 s at 5k; cold 13.7 s, then 6.3 s and 5.3 s at 10k; 16.7, 6.8 and
#   5.9 s at 20k), so a bigger table buys little signal for set-up time.
N_PAGES = 5_000
# - rounds: one round (GC, build ~5 s and its digest, 10 lookups ~1 s,
#   a join pass ~3.5 s) takes ~11 s. The JVM keeps getting faster for
#   many builds (one session's first ten: 16.8, 5.3, 4.6, 4.4, 4.3, 4.3,
#   3.9, 3.9, 3.8, 3.4 s), and the first build after the cold one and
#   the first join pass are the slowest and most variable samples of a
#   run (5.3-7.3 s against 4.7-6.3 s; 3.3-5.4 s against 2.8-4.5 s).
#   Three rounds is the fewest whose median drops them, so no unmeasured
#   build or pass beyond the cold build is needed; more would not fit
#   the run budget.
MIN_ROUNDS = 3
# - serve: z8-z12 are the zooms a map viewer requests most. A lookup
#   takes 70-180 ms and keeps getting faster for the first tens of
#   lookups (round medians 102-116, then 85-99, then 76-123 ms with no
#   lookup in set-up), so set-up serves ``WARM_LOOKUPS`` unmeasured ones.
#   Timed runs report the median of 30 (3 rounds of 10); traced runs
#   make 100, so at least 10 samples lie beyond p90. Keys are drawn in
#   stratified blocks of 10, one block per round.
WARM_LOOKUPS = 20
LOOKUP_BLOCK = 10
LOOKUPS_PER_ROUND = LOOKUP_BLOCK
TRACED_LOOKUPS = 100
SERVE_ZOOMS = (8, 12)
# - joins: the broadcast polygon has the 20k vertices of a detailed
#   coastline country (1.9 s on 10k pages). The partitioned join's
#   200 x 5k-vertex table took 10-12 s, so it is cut to 24 x 2k vertices
#   (~2.5 s).
STAR_VERTICES = 20_000
GRID_POLYGONS = 24
GRID_VERTICES = 2_000
# - traced runs only. A mixed build takes ~25 s warm at any size (fixed
#   cost per stage), so it runs once, as the traced run's warm-up build,
#   on the benchmark's pages with one way per 100 pages and one relation
#   per 1,000. A fold costs 9-13 s whatever the
#   batch size, so the drain is one batch of 20 pages (0.4%) with the
#   low-zoom tiles deferred below z8 and flushed after it. Lookups over
#   the generation view cost ~300 ms, so 10 of them.
MIXED_WAYS = N_PAGES // 100
MIXED_RELATIONS = N_PAGES // 1000
BATCH_PAGES = 20
DRAIN_BATCHES = 1
DEFER_ZOOM_BELOW = 8
GEN_LOOKUPS = 10
FOLD_STEPS = (
    "delta_points",
    "dirty_set",
    "tree_merge",
    "content_append",
    "points_append",
    "defer_split",
    "dirty_cluster",
    "recompose",
    "manifest_metrics",
)


@dataclass(frozen=True)
class Workload:
    name: str
    hot_fraction: float  # share of geo mentions in the five hot cells


WORKLOADS = {w.name: w for w in (Workload("hot", 0.8), Workload("uniform", 0.0))}


class Checks:
    """Counts operations and failed correctness checks."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def op(self, n: int = 1) -> None:
        self.attempted += n

    def expect(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.notes.append(what)


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / 1e6


def _digest(rows) -> tuple[int, str]:
    rows = sorted(rows)
    h = hashlib.sha256()
    for z, t, m in rows:
        h.update(f"{z}:{t}:{m}\n".encode())
    return len(rows), h.hexdigest()


def tiles_digest(df) -> tuple[int, str]:
    """(tile count, order-independent digest of (zoom, tile_h, md5(payload)))
    of a tiles DataFrame."""
    from pyspark.sql import functions as F

    return _digest(
        (int(r[0]), int(r[1]), r[2]) for r in df.select("zoom", "tile_h", F.md5("payload")).collect()
    )


def built_digest(planet: str) -> tuple[int, str]:
    """``tiles_digest`` of a built planet's tiles table, read here with
    pyarrow: no Spark job, so a round spends its time in the engine."""
    t = pads.dataset(os.path.join(planet, "tiles"), format="parquet", partitioning="hive").to_table(
        columns=["zoom", "tile_h", "payload"]
    )
    return _digest(
        zip(
            t["zoom"].to_pylist(),
            t["tile_h"].to_pylist(),
            (hashlib.md5(p).hexdigest() for p in t["payload"].to_pylist()),
        )
    )


def even_odd_count(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> int:
    """Points inside ``ring`` by the even-odd crossing rule (an edge
    counts when it straddles the point's y, half-open), computed here
    from the raw coordinates as the join's reference."""
    x, y = ring[:, 0].astype(np.float64), ring[:, 1].astype(np.float64)
    keep = (px >= x.min()) & (px <= x.max()) & (py >= y.min()) & (py <= y.max())
    px, py = px[keep], py[keep]
    inside = np.zeros(len(px), dtype=bool)
    x0, y0, x1, y1 = x[:-1], y[:-1], x[1:], y[1:]
    for s in range(0, len(x0), 512):
        e = slice(s, s + 512)
        a0, a1 = y0[e][:, None], y1[e][:, None]
        crosses = (a0 > py) != (a1 > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xs = (x1[e][:, None] - x0[e][:, None]) * (py - a0) / (a1 - a0) + x0[e][:, None]
        inside ^= ((crosses & (px < xs)).sum(axis=0) & 1).astype(bool)
    return int(inside.sum())


@dataclass
class Lookups:
    want: dict  # (zoom, tile_h) -> payload md5
    requests: object  # iterator of (zoom, tile_h)
    asked: set = field(default_factory=set)


class Cycle:
    def __init__(self, spark, work: str, workload: Workload, seed: int, rec, checks: Checks):
        from pvt_spark.plans.pipeline import BuildConfig

        self.spark = spark
        self.work = work
        self.inp = os.path.join(work, "in")
        self.w = workload
        self.seed = seed
        self.rec = rec
        self.checks = checks
        self.config = BuildConfig()
        self.digest: tuple[int, str] | None = None
        self.builds = 0
        self.layer: dict[str, float] = {}

    def settle(self) -> None:
        """Collect garbage in the driver JVM and here before a timed phase,
        so a phase does not pay for the previous phase's heap."""
        self.spark.sparkContext._jvm.System.gc()
        gc.collect()

    # -- inputs -------------------------------------------------------
    def write_inputs(self) -> None:
        inputs.write_table(
            inputs.pages_table(self.seed, N_PAGES, self.w.hot_fraction),
            os.path.join(self.inp, "pages"),
            files=8,
        )
        # crawl batches for the drain: new page ids, their own draw, one
        # file per batch (the drain reads one file per trigger)
        inputs.write_table(
            inputs.pages_table(
                self.seed, BATCH_PAGES * DRAIN_BATCHES, self.w.hot_fraction, start=N_PAGES, stream=5
            ),
            os.path.join(self.inp, "stream"),
            files=DRAIN_BATCHES,
        )
        self.star = inputs.star_polygon(self.seed, STAR_VERTICES)
        self.grid = inputs.grid_polygons(self.seed, GRID_POLYGONS, GRID_VERTICES)
        inputs.write_table(inputs.polygons_table([self.star]), os.path.join(self.inp, "star"))
        inputs.write_table(inputs.polygons_table(self.grid), os.path.join(self.inp, "grid"))

    def pages(self, *tables: str):
        from pvt_spark.sources.pages import PAGES_SCHEMA

        # the engine's declared pages schema: no schema-inference job
        return self.spark.read.schema(PAGES_SCHEMA).parquet(*(os.path.join(self.inp, t) for t in tables))

    # -- build --------------------------------------------------------
    def build(self, name: str = "pipeline", config=None, pages=None) -> tuple[str, float]:
        """One ``build_planet`` into a fresh directory; returns (dir, wall).
        Builds of the run's own pages with the default config must all
        give one tile digest."""
        from pvt_spark.plans.pipeline import build_planet

        self.builds += 1
        planet = os.path.join(self.work, f"planet{self.builds}")
        self.checks.op()
        with self.rec.span(name) as s:
            build_planet(self.spark, pages or self.pages("pages"), planet, config or self.config)
        with self.rec.span("bench.digest"):
            digest = built_digest(planet)
        self.checks.expect(digest[0] > 0, f"build {self.builds} wrote no tiles")
        if config is None and pages is None:
            if self.digest is None:
                self.digest = digest
            self.checks.expect(digest == self.digest, f"build {self.builds} digest differs")
        return planet, s.dur

    def build_mixed(self) -> tuple[str, float]:
        """One mixed build (synthetic ways and relations over the pages'
        points) with stage spans; returns (dir, wall)."""
        from pvt_spark.plans.pipeline import BuildConfig

        config = BuildConfig(synth_ways=MIXED_WAYS, synth_relations=MIXED_RELATIONS)
        with spans.stage_spans(self.rec):
            return self.build("mixed", config)

    # -- serve --------------------------------------------------------
    def lookups(self, planet: str, stream: int = 0) -> "Lookups":
        """The seeded request stream over ``planet``'s z8-z12 tiles, with
        the payload md5 that ``read_tiles`` gives each key."""
        from pyspark.sql import functions as F

        from pvt_spark.plans.compaction import read_tiles

        lo, hi = SERVE_ZOOMS
        with self.rec.span("bench.keys"):
            rows = (
                read_tiles(self.spark, planet)
                .where(F.col("zoom").between(lo, hi))
                .select("zoom", "tile_h", "feature_count", F.md5("payload"))
                .collect()
            )
        rows.sort(key=lambda r: (r[0], r[1]))
        keys = [(int(r[0]), int(r[1])) for r in rows]
        requests = inputs.lookup_stream(
            self.seed, keys, [r[2] for r in rows], 100, LOOKUP_BLOCK, stream
        )
        return Lookups({k: r[3] for k, r in zip(keys, rows)}, iter(requests))

    def open(self, planet: str, name: str = "serve"):
        """``open_planet(...)["tiles"]``, the table lookups go through."""
        from pvt_spark.operators.serve import open_planet

        with self.rec.span(f"{name}.open") as s:
            tiles = open_planet(self.spark, planet)["tiles"]
        self.layer[f"{name}.open_ms"] = s.dur * 1e3
        return tiles

    def serve(self, tiles, lookups: "Lookups", n: int, name: str = "serve") -> list[float]:
        """``n`` closed-loop ``tile_lookup`` calls on the opened ``tiles``
        for the stream's next keys, each checked against the key's
        ``read_tiles`` payload md5; returns the latencies (s)."""
        from pvt_spark.operators.serve import tile_lookup
        from pvt_spark.tile import Tile

        lat = []
        for _ in range(n):
            z, h = next(lookups.requests)
            t = Tile.from_zh(z, h)
            self.checks.op()
            with self.rec.span(f"{name}.lookup") as s:
                rows = tile_lookup(tiles, z, t.x, t.y).collect()
            lat.append(s.dur)
            lookups.asked.add((z, h))
            self.checks.expect(
                len(rows) == 1 and hashlib.md5(rows[0]["payload"]).hexdigest() == lookups.want[(z, h)],
                f"lookup {z}/{h} returned {len(rows)} rows, or a payload that differs from read_tiles",
            )
        return lat

    # -- join ---------------------------------------------------------
    def join_references(self, planet: str) -> None:
        """The polygon cover the driver computes (``pip.cover_ms``) and the
        numpy even-odd counts every join pass must match."""
        from pvt_spark.operators.pip import polygon_cover_tiles

        with self.rec.span("pip.cover") as s:
            polygon_cover_tiles([[tuple(p) for p in self.star.tolist()]], 8)
        self.layer["pip.cover_ms"] = s.dur * 1e3
        xy = pads.dataset(os.path.join(planet, "points_sorted")).to_table(
            columns=["lon_dm7", "lat_dm7"]
        )
        px = xy["lon_dm7"].to_numpy().astype(np.float64)
        py = xy["lat_dm7"].to_numpy().astype(np.float64)
        self.want_bc = even_odd_count(px, py, self.star)
        self.want_part = sum(even_odd_count(px, py, ring) for ring in self.grid)
        self.layer["pip.matches"] = self.want_bc + self.want_part

    def join(self, planet: str) -> tuple[float, float]:
        """One join pass over ``planet``'s points, broadcast then
        partitioned; returns their walls (s)."""
        from pvt_spark.operators.pip import (
            point_in_polygon_join,
            point_in_polygon_join_partitioned,
        )

        pts = self.spark.read.parquet(os.path.join(planet, "points_sorted"))
        star = self.spark.read.parquet(os.path.join(self.inp, "star"))
        grid = self.spark.read.parquet(os.path.join(self.inp, "grid"))
        self.checks.op(2)
        with self.rec.span("pip.broadcast") as sb:
            n_bc = point_in_polygon_join(pts, star, cover_zoom=8).count()
        with self.rec.span("pip.partitioned") as sp:
            n_part = point_in_polygon_join_partitioned(pts, grid, cover_zoom=7).count()
        self.checks.expect(n_bc == self.want_bc, f"broadcast join matched {n_bc}, expected {self.want_bc}")
        self.checks.expect(
            n_part == self.want_part, f"partitioned join matched {n_part}, expected {self.want_part}"
        )
        return sb.dur, sp.dur

    # -- rounds -------------------------------------------------------
    def rounds(self, seconds: float, planet: str, tiles, lookups: "Lookups") -> dict:
        """Rounds of build -> serve -> join until ``seconds`` have passed
        and at least ``MIN_ROUNDS`` ran. Lookups go to ``tiles`` (opened
        once, as a tile server would) and joins read ``planet``'s points:
        every build of the pages gives the same digest, so the warm-up
        planet stands for all of them. Returns the samples (``build``,
        ``lookup``, ``join`` walls in s)."""
        samples = {"build": [], "lookup": [], "join": []}
        start = self.rec.now()
        while len(samples["build"]) < MIN_ROUNDS or self.rec.now() - start < seconds:
            self.settle()
            built, wall = self.build("pipeline")
            samples["build"].append(wall)
            shutil.rmtree(built)
            self.settle()
            samples["lookup"] += self.serve(tiles, lookups, LOOKUPS_PER_ROUND)
            samples["join"].append(sum(self.join(planet)))
        return samples

    # -- drain --------------------------------------------------------
    def drain(self, planet: str) -> dict:
        """Fold the crawl batches into ``planet`` through
        ``run_incremental_build``, then a final ``flush_deferred``. The
        compaction entry points are wrapped, for the drain only, in spans
        ``compaction.fold`` / ``.flush`` / ``.resolve``; returns the
        fold summaries (``folds``) and the drain wall (``drain_s``)."""
        from pvt_spark.plans import compaction
        from pvt_spark.streaming.incremental import run_incremental_build

        out = {"folds": [], "flushed": []}

        def traced(name: str, results: list | None):
            def wrap(orig):
                def call(*args, **kwargs):
                    with self.rec.span(name):
                        r = orig(*args, **kwargs)
                    if results is not None:
                        results.append(r)
                    return r

                return call

            return wrap

        self.checks.op(DRAIN_BATCHES)
        with contextlib.ExitStack() as patches:
            for attr, name, results in (
                ("compact_planet", "compaction.fold", out["folds"]),
                ("flush_deferred", "compaction.flush", out["flushed"]),
                ("resolve_manifest", "compaction.resolve", None),
            ):
                patches.enter_context(spans.patched(compaction, attr, traced(name, results)))
            with self.rec.span("incremental") as s:
                run_incremental_build(
                    self.spark,
                    os.path.join(self.inp, "stream"),
                    planet,
                    os.path.join(self.work, "checkpoint"),
                    self.config,
                    defer_zoom_below=DEFER_ZOOM_BELOW,
                    flush_every=DRAIN_BATCHES,
                    max_files_per_trigger=1,
                )
                compaction.flush_deferred(self.spark, planet, self.config)
        out["drain_s"] = s.dur
        self.checks.expect(
            len(out["folds"]) == DRAIN_BATCHES,
            f"drain folded {len(out['folds'])} batches, expected {DRAIN_BATCHES}",
        )
        return out

    def verify_drain(self, planet: str) -> None:
        """The drained planet's generation view must give the same tiles
        as a cold build over the base pages plus every batch."""
        from pvt_spark.plans.compaction import read_tiles

        cold, _ = self.build("bench.verify_build", pages=self.pages("pages", "stream"))
        drained = tiles_digest(read_tiles(self.spark, planet))
        want = tiles_digest(self.spark.read.parquet(os.path.join(cold, "tiles")))
        self.checks.expect(drained == want, f"drained planet {drained} differs from a cold build {want}")
