"""Tile-relabeling benchmark: one seeded workload, closed loop, one client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  Each timed run is one pipeline run at a
time: ``read_tile_store`` -> public entry point (``image2labels`` or
``image2geojson``) -> parquet sink.  Every output is checked against the
generator's ground truth outside the timed region.  The last stdout line
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics of a separate traced run with ``--trace 1``.  See README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUP_REPS = 3          # set-ups per run; setup_s is their median
WARMUP_RUNS = 3         # pipeline runs per set-up before timing starts
DRIVER_MEMORY = "2g"    # the session default, 16g, can exceed the host's RAM


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _cpu_times() -> list:
    """Aggregate /proc/stat CPU jiffies (user .. steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def _canary() -> float:
    """Seconds for a fixed single-thread Python loop: how fast the host
    runs at the moment, recorded next to the results (not a metric)."""
    t0 = time.perf_counter()
    sum(i * i for i in range(2_000_000))
    return time.perf_counter() - t0


def _pin_environment(work: Path) -> dict:
    """Pin the Spark environment before the JVM starts and return it."""
    ncpu = os.cpu_count() or 1
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": str(local),
        "TMPDIR": str(tmp),
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "")
                           .split(os.pathsep) if p]),
        "PYSPARK_SUBMIT_ARGS":
            "--conf spark.ui.showConsoleProgress=false pyspark-shell",
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # driver JVM only: a fixed heap, touched up front, so resident
        # memory does not depend on when the JVM grows or first uses it
        "SPARK_SUBMIT_OPTS": f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
    }
    os.environ.update(pinned)
    return pinned


def _descendants() -> set:
    """Live (non-zombie) processes descending from this one, from /proc."""
    parent = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if stat[0] != "Z":
            parent[int(pid)] = int(stat[1])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {p for p, pp in parent.items()
                    if pp in frontier and p not in tree}
        tree |= frontier
    return tree


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class RssSampler:
    """Resident memory of the JVM plus its Python daemon and workers,
    sampled from /proc.  Short-lived children the JVM forks for shell
    commands are left out: until they exec they share, and would count
    twice, the JVM's whole heap.  ``run()`` brackets one timed run;
    ``peaks`` holds the highest sample of each bracketed run."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.jvm_pid = None     # set once the session has started
        self.peaks = []
        self._active = threading.Event()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @contextmanager
    def run(self):
        start = self._tree_rss()
        with self._lock:
            self.peaks.append(start)
        self._active.set()
        try:
            yield
        finally:
            self._active.clear()

    def _tree_rss(self) -> int:
        total = 0
        for pid in _descendants():
            try:
                if pid != self.jvm_pid:
                    with open(f"/proc/{pid}/cmdline", "rb") as f:
                        if b"pyspark.daemon" not in f.read():
                            continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        return total

    def _loop(self):
        while not self._stop.wait(self.period):
            if self._active.is_set():
                rss = self._tree_rss()
                with self._lock:
                    if self._active.is_set():
                        self.peaks[-1] = max(self.peaks[-1], rss)


def tail(samples: list) -> tuple:
    """(value, note): the highest whole percentile with at least ten
    samples above it.  Below 21 samples that percentile is not above
    the median, so the slowest run stands in for it: the value does not
    jump from the slowest to the fastest run as the count passes 10."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 20:
        return xs[-1], f"slowest run, n={n} (20 or fewer samples)"
    k = n - 11                       # xs[k] has n - k - 1 = 10 above it
    return xs[k], f"p{int(100 * (k + 1) / n)}, n={n}, 10 samples above"


class Bench:
    """One workload in one process: set-up, timed runs, verification."""

    def __init__(self, wl, seed: int, work: Path, trace: bool):
        self.wl, self.seed, self.work, self.trace = wl, seed, work, trace
        self.spark = None
        self.truth = None
        self.in_path = None
        self.attempted = 0
        self.failed = 0
        self.session_s = None   # JVM + Spark session start
        self.cold_nodes = None  # plan metrics of the first run (traced)
        self.setups = []        # per repetition: dict of phase seconds
        self._n = 0

    # -- program calls ---------------------------------------------------
    def _out_path(self) -> str:
        self._n += 1
        return str(self.work / f"out-{self._n}")

    def pipeline(self, src):
        """Public entry point over a source TileSet; lazy."""
        from dask_relabeling_spark import image2geojson, image2labels
        wl = self.wl
        if wl.pipeline == "labels":
            return image2labels(src, overlaps=wl.overlap,
                                threshold=wl.threshold)
        return image2geojson(src, overlaps=wl.overlap,
                             threshold=wl.threshold)

    def sink(self, out, path: str) -> None:
        from dask_relabeling_spark.sources.tile_store import write_tile_store
        if self.wl.pipeline == "labels":
            write_tile_store(out, path)
        else:
            out.write.parquet(path)

    def run_once(self) -> tuple:
        """One closed-loop run: store scan -> entry point -> sink.
        Returns (seconds, output path)."""
        from dask_relabeling_spark.sources.tile_store import read_tile_store
        path = self._out_path()
        t0 = time.perf_counter()
        self.sink(self.pipeline(read_tile_store(self.spark, self.in_path)),
                  path)
        return time.perf_counter() - t0, path

    # -- verification (never inside a timed region) -----------------------
    def verify(self, path: str) -> bool:
        import verify as V
        wl = self.wl
        try:
            if wl.pipeline == "labels":
                errs = V.check_labels(
                    V.read_labels(path, wl.grid, wl.chunk), self.truth)
            else:
                errs = V.check_features(V.read_features(path), self.truth)
        except Exception as exc:  # an unreadable output is a failed run
            errs = [f"output unreadable: {type(exc).__name__}: {exc}"]
        shutil.rmtree(path, ignore_errors=True)
        self.attempted += 1
        if errs:
            self.failed += 1
            print(f"VERIFY FAILED run {self.attempted}: " + "; ".join(errs),
                  file=sys.stderr, flush=True)
        return not errs

    def attempt(self):
        """run_once + verify; a raising run counts as failed.  Returns
        the run's seconds, or None when it failed."""
        try:
            secs, path = self.run_once()
        except Exception:
            self.attempted += 1
            self.failed += 1
            traceback.print_exc()
            return None
        return secs if self.verify(path) else None

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        """Session start, then SETUP_REPS x (input generation, store
        write, WARMUP_RUNS warm-up runs).  The JVM can start only once
        per process, so setup_s is the session start plus the median
        repetition."""
        from dask_relabeling_spark.session import get_spark
        from dask_relabeling_spark.sources.tile_store import write_tile_store
        from dask_relabeling_spark.sources.tiles import from_array
        from workloads import generate
        wl = self.wl
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.truth = generate(wl, self.seed)
            t1 = time.perf_counter()
            old, self.in_path = self.in_path, str(self.work / f"in-{rep}")
            write_tile_store(from_array(self.spark, self.truth.image,
                                        wl.chunk), self.in_path)
            t2 = time.perf_counter()
            warm = 0.0
            for i in range(WARMUP_RUNS):
                secs = (self._cold_traced_run() if self.trace and rep == i == 0
                        else self.attempt())
                if secs is None:
                    raise RuntimeError("warm-up run failed; see stderr")
                warm += secs
            if old is not None:
                shutil.rmtree(old, ignore_errors=True)
            self.setups.append({"generate": t1 - t0, "store_write": t2 - t1,
                                "warmup": warm,
                                "total": t2 - t0 + warm})

    def _cold_traced_run(self):
        """The session's first run, traced: Python workers boot only
        here, so its plan carries the boot time."""
        import tracing
        wall, self.cold_nodes, path = tracing.traced_run(self,
                                                         tracing.Spans())
        return wall if self.verify(path) else None

    @property
    def setup_s(self) -> float:
        return self.session_s + statistics.median(
            s["total"] for s in self.setups)

    def measure(self, seconds: float, rss: RssSampler) -> list:
        """Closed loop for ``seconds`` (at least one run): the next run
        starts only after the previous one finished and was verified."""
        samples = []
        end = time.perf_counter() + seconds
        while True:
            t0 = time.perf_counter()
            with rss.run():
                secs = self.attempt()
            if secs is not None:
                samples.append(secs)
            # start another run only if one like the last still fits
            now = time.perf_counter()
            if now + (now - t0) > end:
                return samples

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until every process
        this run started (JVM, Python daemon and workers) has ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext
        started = _descendants()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        try:
            self.spark.stop()
            gateway.shutdown()
        except Exception:  # py4j link broken by an interrupt: stop the JVM
            traceback.print_exc()
        self.spark = None
        if proc is not None:
            proc.stdin.close()          # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 60
        while started := {p for p in started if _alive(p)}:
            if time.monotonic() > deadline:
                for pid in started:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                deadline = time.monotonic() + 30
            time.sleep(0.1)


def end_to_end(bench: Bench, samples: list, rss_peaks: list) -> dict:
    wl = bench.wl
    wall = statistics.median(samples)
    tail_s, tail_note = tail(samples)
    return {
        "wall_s": (wall, "s", f"median of n={len(samples)}"),
        "wall_s.tail": (tail_s, "s", tail_note),
        "mpix_per_s": (wl.pixels / 1e6 / wall, "Mpx/s",
                       f"{wl.pixels / 1e6:.3f} M{'vox' if wl.nd == 3 else 'px'}"
                       f" / median wall"),
        "setup_s": (bench.setup_s, "s",
                    f"session start + median of {len(bench.setups)} "
                    f"(generate, store write, warm-up)"),
        "peak_rss_mb": (statistics.median(rss_peaks) / 2 ** 20, "MB",
                        "JVM + Python workers: median of the timed runs' "
                        "peaks"),
    }


def _versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"pyspark": pyspark.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    help="a workload name, or 'all' to run each in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "dask_relabeling_spark" / "__init__.py").is_file():
        print(f"perfbench: the dask_relabeling_spark package is not next "
              f"to {HERE.name}/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from workloads import WORKLOADS
    if args.workload == "all":
        codes = [subprocess.run(
            [sys.executable, __file__, "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)]).returncode
            for name in WORKLOADS]
        return max(codes)
    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; choose "
              f"from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its data
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"{wl.name}-{os.getpid()}"
    hidden = frozenset()
    env = {"nproc": os.cpu_count(), "load1_start": _load1(),
           "seed": args.seed, "workload": wl.name, "trace": args.trace,
           "run_seconds": args.seconds}
    bench = Bench(wl, args.seed, work, bool(args.trace))
    try:
        env["pinned"] = _pin_environment(work)
        env.update(_versions())
        with RssSampler() as rss:
            bench.setup()
            from pyspark import SparkContext
            rss.jvm_pid = SparkContext._gateway.proc.pid
            if args.trace:
                import tracing as T
                metrics = T.traced(bench, args.seconds, rss)
                hidden = T.PRINT_ONLY
            else:
                canary = _canary()
                cpu0 = _cpu_times()
                samples = bench.measure(args.seconds, rss)
                cpu1 = [b - a for a, b in zip(cpu0, _cpu_times())]
                env["canary_s"] = [canary, _canary()]
                # share of CPU time the hypervisor gave to other guests
                env["steal_share"] = cpu1[7] / max(1, sum(cpu1))
                env["idle_share"] = cpu1[3] / max(1, sum(cpu1))
                if not samples:
                    print("perfbench: no run succeeded", file=sys.stderr)
                    return 1
                metrics = end_to_end(bench, samples, rss.peaks)
                env["rss_peaks_mb"] = [round(p / 2 ** 20) for p in rss.peaks]
                env["samples_s"] = samples
    finally:
        try:
            bench.close()
        finally:
            shutil.rmtree(work, ignore_errors=True)
    env["load1_end"] = _load1()

    print(f"# perfbench {wl.name} seed={args.seed} trace={args.trace}")
    print("env " + json.dumps(env, sort_keys=True))
    print("setup " + json.dumps({"session": bench.session_s,
                                 "repetitions": bench.setups}))
    for name, (value, unit, note) in metrics.items():
        print(f"{name:28s} {value:14.6g} {unit:6s} {note}")
    print(f"{'fail_ratio':28s} {bench.failed / bench.attempted:14.6g} "
          f"{'1':6s} {bench.failed} of {bench.attempted} runs failed or "
          f"mismatched")
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit, _) in metrics.items()
                    if name not in hidden},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
