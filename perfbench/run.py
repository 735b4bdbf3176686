"""pvt-spark benchmark: one seeded run of one workload.

    python3 perfbench/run.py --workload hot --seed 1 --seconds 15 --trace 0

Run it from the root of a source checkout. It starts a local Spark
session with no more task slots than the host has cores, runs the
workload's cycle (see cycle.py) and prints, as the last line of stdout,
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Scratch data lives in ``.perfbench_work/`` under the
checkout and is replaced on every run; spans, the event log and the host
fingerprint of the last run stay there.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# layers with the span family <layer>.busy_s/.jobs/.tasks/..., named after
# the pvt_spark module (or build stage) each one times. ``session``,
# ``pipeline`` and ``incremental`` run no Spark job of their own worth a
# family (a build's jobs all belong to its stages, a drain's to its
# folds), so they report their extra metrics only.
POINT_STAGE_LAYERS = ("hilbert_sort", "tree", "content", "compose", "tile_manifest")
MIXED_STAGE_LAYERS = ("feature_h", "external", "simplify")


def _parents() -> dict[int, int]:
    """pid -> parent pid for every process visible in /proc."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    out[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    return out


def descendants(pid: int) -> list[int]:
    parents = _parents()
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        found += kids
        frontier += kids
    return found


def rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 1e6
    except (OSError, IndexError, ValueError):
        return 0.0


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


COUNTED = ("java", "python")


class PeakRss(threading.Thread):
    """Samples, until stopped, the summed RSS of the driver JVM and the
    Python workers: the java and python processes among those this one
    started (psutil is not available). The benchmark's own process is
    left out, so its reference computations do not count against the
    engine. The process tree is re-listed every ``relist`` samples, RSS
    read every sample; ``peaks`` keeps each command name's own peak, for
    ``meta``."""

    def __init__(self, period: float = 0.2, relist: int = 5):
        super().__init__(daemon=True)
        self.period = period
        self.relist = relist
        self.peak = 0.0
        self.peaks: dict[str, float] = {}
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        for i in itertools.count():
            if self._stop_evt.is_set():
                return
            if i % self.relist == 0:
                pids = descendants(me)
            by_comm: dict[str, float] = {}
            for p in pids:
                name = comm(p)
                by_comm[name] = by_comm.get(name, 0.0) + rss_mb(p)
            # a child the JVM is spawning shows the JVM's whole address
            # space as its own RSS until it execs, so only java and python
            # processes count
            total = sum(mb for name, mb in by_comm.items() if name.startswith(COUNTED))
            self.peak = max(self.peak, total)
            by_comm["benchmark"] = rss_mb(me)
            for name, mb in by_comm.items():
                self.peaks[name] = max(self.peaks.get(name, 0.0), mb)
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def hilbert_calibration() -> float:
    """Host fingerprint: seconds for a single-core zoom-32 Hilbert encode
    of 250k points with the engine's numpy kernel (bench.py's calibration
    on a sixteenth of its points). Recorded, never used to scale a metric."""
    import numpy as np

    from pvt_spark import hilbert as hb

    i = np.arange(250_000, dtype=np.uint64)
    x = (i * np.uint64(2654435761)) & np.uint64(0xFFFFFFFF)
    y = (i * np.uint64(2246822519)) & np.uint64(0xFFFFFFFF)
    t = time.perf_counter()
    hb.xy2h(x, y, 32)
    return time.perf_counter() - t


def configure_env(slots: int, trace_on: bool) -> str:
    """Point every scratch path of Spark and its workers into WORK and,
    for a traced run, turn on the uncompressed event log. Must run
    before the JVM starts."""
    events = os.path.join(WORK, "events")
    tmp = os.path.join(WORK, "tmp")
    for d in (events, tmp):
        os.makedirs(d, exist_ok=True)
    args = ["--conf", f"spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}"]
    if trace_on:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ.update(
        {
            "PYSPARK_SUBMIT_ARGS": " ".join(args + ["pyspark-shell"]),
            "SPARK_GRAFT_CPUS": str(slots),
            "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
            "TMPDIR": tmp,
            # not --driver-java-options: that would replace the engine's
            # own spark.driver.extraJavaOptions (its GC choice)
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    os.environ.pop("PVT_SERIAL_STAGES", None)
    return events


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in kids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.2)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def family(m: dict, layer: str, own: list, jobs: list) -> None:
    """The span family of ``layer``: wall covered by its spans ``own`` and
    the task counters of the jobs held by those spans."""
    import spans

    ids = {s.id for s in own}
    js = [j for j in jobs if j.span is not None and j.span.id in ids]
    m[f"{layer}.busy_s"] = spans.union_s(own)
    m[f"{layer}.jobs"] = len(js)
    m[f"{layer}.tasks"] = sum(j.tasks for j in js)
    m[f"{layer}.task_cpu_s"] = sum(j.cpu_s for j in js)
    m[f"{layer}.shuffle_write_mb"] = sum(j.shuffle_write_b for j in js) / 1e6
    m[f"{layer}.spill_mb"] = sum(j.spill_b for j in js) / 1e6


def held(jobs: list, own: list) -> list:
    ids = {s.id for s in own}
    return [j for j in jobs if j.span is not None and j.span.id in ids]


def layer_metrics(rec, jobs, cyc, t: dict) -> dict:
    """Per-layer metrics of a traced run. ``t`` holds the phase results:
    measure_start, the traced and untraced build walls, the serve and
    generation-view latencies, the drain summary."""
    import cycle
    import spans

    after = [s for s in rec.spans if s.start >= t["measure_start"]]
    m = dict(cyc.layer)
    traced_build = rec.named("pipeline", after=t["measure_start"])[0]
    mixed_build = rec.named("mixed")[0]
    for layer in POINT_STAGE_LAYERS:
        family(m, layer, [s for s in after if s.parent == traced_build.id and s.layer == layer], jobs)
    for layer in MIXED_STAGE_LAYERS:
        family(m, layer, [s for s in rec.spans if s.parent == mixed_build.id and s.layer == layer], jobs)
    m["session.start_s"] = rec.named("session")[0].dur

    stages = [s for s in rec.spans if s.parent == traced_build.id]
    for s in stages:
        s.attrs["overlapped"] = any(
            o is not s and o.start < s.end and s.start < o.end for o in stages
        )
    critical = spans.union_s(stages)
    m["pipeline.busy_s"] = traced_build.dur
    m["pipeline.critical_path_s"] = critical
    m["pipeline.driver_s"] = traced_build.dur - critical
    m["pipeline.overlap_frac"] = 1 - critical / sum(s.dur for s in stages)
    m["pipeline.pages_per_s"] = cycle.N_PAGES / traced_build.dur
    m["pipeline.mixed_build_s"] = mixed_build.dur

    lookups = [s for s in after if s.name == "serve.lookup"]
    family(m, "serve", lookups + [s for s in after if s.name == "serve.open"], jobs)
    lat, distinct = t["serve"]
    n = len(lat)
    lookup_jobs = held(jobs, lookups)
    m["serve.lookups"] = n
    m["serve.p50_ms"] = statistics.median(lat) * 1e3
    m["serve.p90_ms"] = statistics.quantiles(lat, n=10)[-1] * 1e3
    m["serve.jobs_per_lookup"] = len(lookup_jobs) / n
    m["serve.tasks_per_lookup"] = sum(j.tasks for j in lookup_jobs) / n
    m["serve.bytes_read_per_lookup_kb"] = sum(j.input_b for j in lookup_jobs) / n / 1e3
    m["serve.hit_rate"] = 1 - distinct / n
    m["serve.gen_p50_ms"] = statistics.median(t["gen_serve"]) * 1e3

    family(m, "pip", [s for s in after if s.layer == "pip"], jobs)
    m["pip.broadcast.busy_s"], m["pip.partitioned.busy_s"] = t["join"]

    drain = t["drain"]
    comp = [s for s in after if s.layer == "compaction"]
    folds = [s for s in comp if s.name == "compaction.fold"]
    family(m, "compaction", comp, jobs)
    for step in ("fold", "flush", "resolve"):
        m[f"compaction.{step}_busy_s"] = sum(s.dur for s in comp if s.name == f"compaction.{step}")
    m["compaction.dirty_tiles"] = sum(f["dirty_tiles"] for f in drain["folds"])
    m["compaction.deferred_tiles"] = sum(f["deferred_tiles"] for f in drain["folds"])
    m["compaction.generations"] = drain["generations"]
    m["compaction.bytes_written_mb"] = sum(j.output_b for j in held(jobs, comp)) / 1e6
    m["compaction.jobs_per_fold"] = len(held(jobs, folds)) / len(folds)
    for step in cycle.FOLD_STEPS:
        # a step the fold skipped reads 0
        m[f"compaction.step.{step}_s"] = sum(f["steps"].get(step, 0.0) for f in drain["folds"])
    m["incremental.drain_s"] = drain["drain_s"]
    m["incremental.overhead_s"] = drain["drain_s"] - sum(s.dur for s in comp)

    timed = [j for j in jobs if j.submitted >= t["measure_start"]]
    m["trace.unattributed_frac"] = sum(j.run_s for j in timed if not j.labelled) / sum(
        j.run_s for j in timed
    )
    m["trace.untraced_build_s"] = t["build_s"]["untraced"]
    m["trace.overhead_frac"] = t["build_s"]["traced"] / t["build_s"]["untraced"] - 1
    return m


def run(args):
    """One run; returns (metrics by name, cycle.Checks)."""
    import cycle
    import spans

    workload = cycle.WORKLOADS[args.workload]
    slots = max(1, min(4, os.cpu_count() or 1))
    trace_on = bool(args.trace)
    events = configure_env(slots, trace_on)
    meta = {"workload": workload.name, "seed": args.seed, "slots": slots}
    meta["hilbert_calib_s"] = hilbert_calibration()
    steal0, total0 = cpu_ticks()

    rss = PeakRss()
    rss.start()
    rec = spans.Recorder(uuid.uuid4().hex[:12])
    checks = cycle.Checks()
    t = {}
    t0 = rec.now()
    with rec.span("session"):
        from pvt_spark.session import get_spark

        spark = get_spark(master=f"local[{slots}]", app_name=f"perfbench-{workload.name}")
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        if trace_on:
            rec.sc = sc
            event_logger = sc._jsc.sc().eventLogger().get()
        cyc = cycle.Cycle(spark, WORK, workload, args.seed, rec, checks)
        with rec.span("inputs"):
            cyc.write_inputs()
        if trace_on:
            # the mixed build runs every stage of a points build and more,
            # so it is the traced run's warm-up: a separate warm-up would
            # not fit the run in its time limit
            cyc.build_mixed()
        else:
            planet, _ = cyc.build("warmup")
            lookups = cyc.lookups(planet)
            tiles = cyc.open(planet)
            cyc.serve(tiles, lookups, cycle.WARM_LOOKUPS, name="serve.warm")
            cyc.join_references(planet)
        setup_s = rec.now() - t0
        t["measure_start"] = measure_start = rec.now()

        if trace_on:
            # the untraced build runs with the event log detached and no
            # job descriptions; the seed decides which of the two goes
            # first, so JIT warm-up does not bias the overhead one way
            build_s = t["build_s"] = {}
            for traced in ([True, False] if args.seed % 2 else [False, True]):
                cyc.settle()
                if traced:
                    with spans.stage_spans(rec):
                        planet, build_s["traced"] = cyc.build("pipeline")
                else:
                    rec.sc = None
                    sc._jsc.sc().removeSparkListener(event_logger)
                    planet, build_s["untraced"] = cyc.build("untraced_build")
                    sc._jsc.sc().addSparkListener(event_logger)
                    rec.sc = sc
            lookups = cyc.lookups(planet)
            cyc.settle()
            tiles = cyc.open(planet)
            t["serve"] = cyc.serve(tiles, lookups, cycle.TRACED_LOOKUPS), len(lookups.asked)
            cyc.join_references(planet)
            cyc.settle()
            t["join"] = cyc.join(planet)
            planet_mb = cycle.dir_mb(planet)
            cyc.settle()
            t["drain"] = cyc.drain(planet)
            t["drain"]["generations"] = len(os.listdir(os.path.join(planet, "tiles_delta")))
            cyc.settle()
            gen = cyc.lookups(planet, stream=2)
            t["gen_serve"] = cyc.serve(cyc.open(planet, "serve.gen"), gen, cycle.GEN_LOOKUPS, name="serve.gen")
            if args.verify:
                cyc.verify_drain(planet)
        else:
            samples = cyc.rounds(args.seconds, planet, tiles, lookups)
            planet_mb = cycle.dir_mb(planet)
            meta["rounds"] = len(samples["build"])
            meta["samples"] = samples
    finally:
        rec.sc = None
        stop_spark(spark)
        peak_rss = meta["peak_rss_mb"] = rss.stop()

    steal1, total1 = cpu_ticks()
    # share of CPU time the hypervisor gave to other guests during the run
    meta["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    meta["peak_rss_mb_by_command"] = rss.peaks
    meta["notes"] = checks.notes
    meta["digest"] = cyc.digest
    if trace_on:
        jobs = spans.fold_event_log(events, rec.spans)
        metrics = layer_metrics(rec, jobs, cyc, t)
        metrics["peak_rss_mb"] = peak_rss
    else:
        metrics = {
            "setup_s": setup_s,
            "build_s": statistics.median(samples["build"]),
            "serve_p50_ms": statistics.median(samples["lookup"]) * 1e3,
            "pip_s": statistics.median(samples["join"]),
            "planet_mb": planet_mb,
        }
    rec.dump(os.path.join(WORK, "spans.jsonl"))
    with open(os.path.join(WORK, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1)
    print("meta " + json.dumps(meta), flush=True)
    return metrics, checks


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--verify",
        action="store_true",
        help="traced runs: also check the drained planet against a cold build (~10 s more)",
    )
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not os.path.isdir(os.path.join(ROOT, "pvt_spark")):
        print(f"no pvt_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    metrics, checks = run(args)
    missing = [d["name"] for d in declared if d["name"] not in metrics]
    if missing:
        print(f"metrics not measured: {missing}", file=sys.stderr)
        return 3
    for note in checks.notes:
        print(f"check failed: {note}", file=sys.stderr)
    result = {
        "correct": checks.failed == 0,
        "attempted": checks.attempted,
        "failed": checks.failed,
        "metrics": {
            d["name"]: {"value": float(metrics[d["name"]]), "unit": d["unit"]} for d in declared
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
