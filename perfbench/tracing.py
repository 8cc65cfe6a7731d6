"""Traced run: per-layer numbers measured from outside the library.

Three sources, none of which touches library code:

* spans the benchmark records around its own calls into each layer's
  public functions (store scan set-up, entry point, plan execution,
  sink), kept in memory and written to a JSON file at exit;
* Spark's per-operator SQL metrics, read from the executed physical
  plan of a traced run (Exchange, Python-UDF and Scan nodes);
* single-thread timings of the public row-codec and kernel functions
  over the workload's own tiles, in this process.

Untraced runs read no metrics; ``run.py`` only imports this module
with ``--trace 1``.
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

import numpy as np

TRACED_RUNS = 3
# printed with the others but not registered in BENCHMARK.json: the
# fetch wait is 0 in local mode and the payload base never changes
PRINT_ONLY = frozenset({"halo.fetch_wait_s", "halo.input_payload_bytes"})


class Spans:
    """In-memory span recorder: name, start, end, parent."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]


# -- Spark SQL metrics of the executed plan ------------------------------

def plan_nodes(df) -> list:
    """(node name, {metric: value}) for every node of ``df``'s executed
    physical plan, descending through AQE query stages."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.finalPhysicalPlan()
    out, todo = [], [plan]
    while todo:
        node = todo.pop()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        out.append((node.nodeName(), metrics))
        if node.getClass().getSimpleName().endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children().iterator()
        while children.hasNext():
            todo.append(children.next())
    return out


def plan_layers(nodes) -> dict:
    """Sum the SQL metrics of the exchange, Python and scan nodes (0 for
    a node kind the plan does not have)."""
    tot = defaultdict(float)
    for name, m in nodes:
        if "shuffleBytesWritten" in m:              # an Exchange
            tot["exchanges"] += 1
            tot["shuffle_bytes"] += m["shuffleBytesWritten"]
            tot["shuffle_records"] += m["shuffleRecordsWritten"]
            tot["shuffle_write_s"] += m["shuffleWriteTime"] / 1e9   # ns
            tot["fetch_wait_s"] += m.get("fetchWaitTime", 0) / 1e3  # ms
        if "pythonDataSent" in m:                   # a Python UDF pass
            tot["python_passes"] += 1
            tot["bytes_to_python"] += m["pythonDataSent"]
            tot["bytes_from_python"] += m["pythonDataReceived"]
            tot["python_total_s"] += m.get("pythonTotalTime", 0) / 1e3
            tot["python_init_s"] += m.get("pythonInitTime", 0) / 1e3
            tot["python_boot_s"] += m.get("pythonBootTime", 0) / 1e3
        if name.startswith("Scan parquet"):
            tot["scan_s"] += m.get("scanTime", 0) / 1e3
            tot["bytes_read"] += m.get("filesSize", 0)
    return tot


def dir_bytes(path: str) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*")
               if f.is_file())


# -- single-thread layer timings over the workload's own tiles -------------

def _expanded(img, loc, wl):
    """Tile ``loc`` plus its halo, cut straight from the image: what the
    first exchange assembles (no halo on the image border)."""
    return img[tuple(slice(max(0, l * c - wl.overlap),
                           min(s, (l + 1) * c + wl.overlap))
                     for l, c, s in zip(loc, wl.chunk, wl.image_shape))]


def kernel_times(wl, image) -> dict:
    """Summed single-thread seconds of each public kernel over every
    expanded tile, with object counts.  The kernel a pipeline does not
    call (merge for GeoJSON, annotate for labels) is timed over the
    same de-duplicated tiles so every metric exists on every workload;
    ``on_path_s`` sums only the kernels the workload's pipeline runs."""
    from dask_relabeling_spark.kernels import (assemble_expanded,
                                               margin_pieces, merge_tiles,
                                               remove_overlapped_objects,
                                               segment_fn, tile_origin)
    from dask_relabeling_spark.kernels.annotate import (
        annotation_offset, annotation_offset_nd, labels_to_annotations,
        labels_to_annotations_3d)
    ov = (wl.overlap,) * wl.nd
    t = defaultdict(float)
    kept, removed = 0, {}
    clock = time.perf_counter
    for loc in np.ndindex(wl.grid):
        tile = _expanded(image, loc, wl)
        t0 = clock()
        seg = segment_fn(tile)
        t1 = clock()
        rem = remove_overlapped_objects(seg.astype(np.int64), ov,
                                        wl.threshold, loc, wl.grid)
        t2 = clock()
        t["ccl_s"] += t1 - t0
        t["remove_s"] += t2 - t1
        t["objects_segmented"] += int(seg.max())
        kept += len(np.unique(rem)) - (1 if (rem == 0).any() else 0)
        removed[loc] = rem

        origin = tile_origin(loc, wl.grid, wl.chunk, ov)
        t0 = clock()
        if wl.nd == 3:
            labels_to_annotations_3d(
                rem, {0: "cell"},
                offset=annotation_offset_nd(loc, origin, ov))
        else:
            labels_to_annotations(rem, {0: "cell"},
                                  offset=annotation_offset(loc, origin, ov))
        t["annotate_s"] += clock() - t0

    pieces = defaultdict(dict)
    for loc, rem in removed.items():
        for dest, pos, piece in margin_pieces(rem, loc, wl.grid, ov):
            pieces[dest][pos] = piece
    for loc, rem in removed.items():
        view = assemble_expanded(rem, loc, wl.grid, pieces[loc])
        t0 = clock()
        merge_tiles(view, ov, loc, wl.grid)
        t["merge_s"] += clock() - t0

    t["objects_kept"] = kept
    t["keep_ratio"] = kept / t["objects_segmented"]
    last = "merge_s" if wl.pipeline == "labels" else "annotate_s"
    t["on_path_s"] = t["ccl_s"] + t["remove_s"] + t[last]
    return dict(t)


def codec_times(wl, in_path: str, make_records, schema) -> dict:
    """Row-codec seconds: decode = Arrow -> pandas + ``pdf_tile`` per
    input tile; encode = ``make_records()`` -> pandas -> Arrow.  Mirrors
    what each Python pass does per batch."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.dataset as pads
    from dask_relabeling_spark.sources.tiles import pdf_tile

    table = pads.dataset(in_path, format="parquet",
                         partitioning="hive").to_table()
    t0 = time.perf_counter()
    for _, row in table.to_pandas().iterrows():
        pdf_tile(row, wl.nd)
    t1 = time.perf_counter()
    pa.Table.from_pandas(pd.DataFrame.from_records(make_records(),
                                                   columns=schema.names),
                         schema=schema, preserve_index=False)
    t2 = time.perf_counter()
    return {"decode_s": t1 - t0, "encode_s": t2 - t1}


def output_records(wl, labels: np.ndarray, ann_path: str):
    """(make_records, Arrow schema) of the workload's output rows: one
    ``tile_record`` per chunk-shaped label tile, or the annotation rows
    the GeoJSON sink wrote (JSON already rendered)."""
    import pyarrow.dataset as pads
    from pyspark.sql.pandas.types import to_arrow_schema
    from dask_relabeling_spark.operators.annotate_ops import (
        ANNOTATION_SCHEMA)
    from dask_relabeling_spark.sources.tiles import TILE_SCHEMA, tile_record
    if wl.pipeline == "geojson":
        rows = pads.dataset(ann_path, format="parquet",
                            partitioning="hive").to_table().to_pylist()
        return (lambda: [dict(r) for r in rows],
                to_arrow_schema(ANNOTATION_SCHEMA))
    tiles = {loc: labels[tuple(slice(l * c, (l + 1) * c)
                               for l, c in zip(loc, wl.chunk))]
             for loc in np.ndindex(wl.grid)}
    return (lambda: [tile_record(loc, t) for loc, t in tiles.items()],
            to_arrow_schema(TILE_SCHEMA))


# -- the traced run ----------------------------------------------------------

def traced_run(bench, spans: Spans):
    """One pipeline run with spans around each layer call.  The plan is
    executed by ``localCheckpoint`` so its own query execution carries
    the SQL metrics; the sink then writes the materialized result, so
    the sink span holds only the write.  Returns (wall, nodes, path)."""
    from dask_relabeling_spark.sources.tile_store import read_tile_store
    path = bench._out_path()
    with spans.span("run") as run:
        with spans.span("tile_store.read"):
            src = read_tile_store(bench.spark, bench.in_path)
        with spans.span("pipeline.build"):
            out = bench.pipeline(src)
        df = out if bench.wl.pipeline == "geojson" else out.df
        with spans.span("pipeline.execute"):
            done = df.localCheckpoint(eager=True)
        with spans.span("tile_store.write"):
            bench.sink(done if bench.wl.pipeline == "geojson"
                       else out.with_df(done), path)
    return run["end"] - run["start"], plan_nodes(df), path


def traced(bench, seconds: float, rss) -> dict:
    """Per-layer metrics for ``bench`` (already set up): untraced runs
    for ``seconds`` as the overhead baseline, then TRACED_RUNS traced
    runs, then codec and kernel timings.  Returns name -> (value, unit,
    note) and writes spans + plan metrics under the work directory's
    parent."""
    wl = bench.wl
    untraced = bench.measure(seconds, rss)
    if not untraced:
        raise RuntimeError("no untraced run succeeded")
    spans = Spans()
    walls, writes, written, nodes = [], [], [], None
    for _ in range(TRACED_RUNS):
        wall, nodes, path = traced_run(bench, spans)
        writes.append(spans.durations("tile_store.write")[-1])
        written.append(dir_bytes(path))
        # read before verification, which deletes the output
        make_records, schema = output_records(
            wl, bench.truth.ids.astype(np.int64), path)
        if bench.verify(path):
            walls.append(wall)
    if not walls:
        raise RuntimeError("no traced run succeeded")
    layers = plan_layers(nodes)
    cold = plan_layers(bench.cold_nodes or [])

    codec = codec_times(wl, bench.in_path, make_records, schema)
    kern = kernel_times(wl, bench.truth.image)

    untraced_s = statistics.median(untraced)
    traced_s = statistics.median(walls)
    payload = wl.pixels * 8      # int64 payload of the input tiles
    m = {
        "session.start_s": (bench.session_s, "s", "JVM + Spark session"),
        "tile_store.scan_s": (layers["scan_s"], "s",
                              "Scan parquet scanTime, summed over tasks"),
        "tile_store.bytes_read": (layers["bytes_read"], "bytes",
                                  "Scan parquet filesSize"),
        "tile_store.write_s": (statistics.median(writes), "s",
                               "sink span over the materialized output"),
        "tile_store.bytes_written": (statistics.median(written), "bytes",
                                     "files the sink wrote"),
        "tiles.decode_s": (codec["decode_s"], "s",
                           "Arrow->pandas + pdf_tile, all input tiles"),
        "tiles.encode_s": (codec["encode_s"], "s",
                           "output records -> pandas -> Arrow"),
        "halo.exchanges": (layers["exchanges"], "count", "Exchange nodes"),
        "halo.python_passes": (layers["python_passes"], "count",
                               "Python-UDF nodes"),
        "halo.shuffle_records": (layers["shuffle_records"], "count",
                                 "shuffleRecordsWritten"),
        "halo.shuffle_bytes": (layers["shuffle_bytes"], "bytes",
                               "shuffleBytesWritten (compressed)"),
        "halo.bytes_to_python": (layers["bytes_to_python"], "bytes",
                                 "pythonDataSent"),
        "halo.bytes_from_python": (layers["bytes_from_python"], "bytes",
                                   "pythonDataReceived"),
        "halo.python_init_s": (layers["python_init_s"], "s",
                               "pythonInitTime, summed over tasks"),
        "halo.python_boot_s": (cold["python_boot_s"], "s",
                               "pythonBootTime of the session's first "
                               "(cold) run; reused workers boot nothing"),
        "halo.python_total_s": (layers["python_total_s"], "s",
                                "pythonTotalTime, summed over tasks"),
        "halo.shuffle_write_s": (layers["shuffle_write_s"], "s",
                                 "shuffleWriteTime"),
        "halo.fetch_wait_s": (layers["fetch_wait_s"], "s",
                              "fetchWaitTime (local mode: near 0)"),
        "halo.input_payload_bytes": (payload, "bytes",
                                     "input pixels x 8 (int64 payload)"),
        "halo.amplification": (layers["shuffle_bytes"] / payload, "ratio",
                               "shuffle bytes / input payload bytes"),
        "halo.amplification_vs_store": (
            layers["shuffle_bytes"] / layers["bytes_read"], "ratio",
            "shuffle bytes / tile-store bytes read"),
        "kernels.ccl_s": (kern["ccl_s"], "s", "segment_fn, 1 thread"),
        "kernels.remove_s": (kern["remove_s"], "s",
                             "remove_overlapped_objects, 1 thread"),
        "kernels.merge_s": (kern["merge_s"], "s",
                            "merge_tiles, 1 thread" + (
                                "" if wl.pipeline == "labels"
                                else " (not on this pipeline's path)")),
        "kernels.annotate_s": (kern["annotate_s"], "s",
                               "labels_to_annotations*, 1 thread" + (
                                   "" if wl.pipeline == "geojson"
                                   else " (not on this pipeline's path)")),
        "kernels.on_path_s": (kern["on_path_s"], "s",
                              "kernels this pipeline runs, summed"),
        "kernels.wall_share": (kern["on_path_s"] / untraced_s, "ratio",
                               "on-path kernel seconds / untraced wall"),
        "kernels.objects_segmented": (kern["objects_segmented"], "count",
                                      "objects CCL finds in expanded tiles"),
        "kernels.objects_kept": (kern["objects_kept"], "count",
                                 "objects that survive border dedup"),
        "kernels.keep_ratio": (kern["keep_ratio"], "ratio",
                               "kept / segmented"),
        "pipeline.untraced_wall_s": (untraced_s, "s",
                                     f"median of n={len(untraced)}"),
        "pipeline.traced_wall_s": (traced_s, "s",
                                   f"median of n={len(walls)}"),
        "trace.overhead_s": (traced_s - untraced_s, "s",
                             "traced wall - untraced wall"),
    }
    _write_trace(bench, spans, nodes, m)
    return m


def _write_trace(bench, spans: Spans, nodes, metrics) -> None:
    out = bench.work.parent / "traces"
    out.mkdir(parents=True, exist_ok=True)
    path = out / f"{bench.wl.name}-seed{bench.seed}-{os.getpid()}.json"
    with open(path, "w") as f:
        json.dump({"workload": bench.wl.name, "seed": bench.seed,
                   "spans": spans.spans,
                   "plan": [{"node": n, "metrics": m} for n, m in nodes],
                   "metrics": {k: v[0] for k, v in metrics.items()}},
                  f, indent=1)
    print(f"trace written to {path}", file=sys.stderr)
