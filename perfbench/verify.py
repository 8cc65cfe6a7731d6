"""Output verifiers: compare what a pipeline run wrote against the
generator's ground truth.  Each check returns a list of mismatch
messages; an empty list means the output is correct.  The readers use
pyarrow directly so verification needs no Spark job."""
from __future__ import annotations

import json
from collections import Counter
from typing import Iterable, List, Sequence

import numpy as np
import pyarrow.dataset as pads

from workloads import Truth


def _dataset(path: str):
    # hive partitioning restores cy (and cz) from the directory names;
    # files starting with "_" (the store's JSON sidecar) are skipped
    return pads.dataset(path, format="parquet",
                        partitioning="hive").to_table()


def read_labels(path: str, grid: Sequence[int],
                chunk: Sequence[int]) -> np.ndarray:
    """Assemble the full label image from a labels tile store."""
    table = _dataset(path)
    nd = len(grid)
    keys = (["cz"] if nd == 3 else []) + ["cy", "cx"]
    dims = (["d"] if nd == 3 else []) + ["h", "w"]
    locs = np.stack([table.column(k).to_numpy() for k in keys], axis=1)
    shapes = np.stack([table.column(k).to_numpy() for k in dims], axis=1)
    data = table.column("data").combine_chunks()
    values = data.values.to_numpy()
    offsets = data.offsets.to_numpy()
    out = np.zeros(tuple(g * c for g, c in zip(grid, chunk)),
                   dtype=np.int64)
    seen = np.zeros(tuple(grid), dtype=np.int32)
    for i, (loc, shape) in enumerate(zip(locs.tolist(), shapes.tolist())):
        sel = tuple(slice(l * c, l * c + s)
                    for l, c, s in zip(loc, chunk, shape))
        out[sel] = values[offsets[i]:offsets[i + 1]].reshape(shape)
        seen[tuple(loc)] += 1
    if not (seen == 1).all():
        raise ValueError(f"label store holds {int((seen == 0).sum())} "
                         f"missing and {int((seen > 1).sum())} duplicated "
                         f"tiles")
    return out


def check_labels(labels: np.ndarray, truth: Truth) -> List[str]:
    """Distinct global label count, per-object pixel multiset, and a
    one-to-one object/label mapping with a clean background."""
    if labels.shape != truth.ids.shape:
        return [f"label image shape {labels.shape} != {truth.ids.shape}"]
    errs = []
    fg = truth.ids != 0
    stray = int(np.count_nonzero(labels[~fg]))
    if stray:
        errs.append(f"{stray} background pixels carry a label")
    lost = int(np.count_nonzero(labels[fg] == 0))
    if lost:
        errs.append(f"{lost} object pixels lost their label")
    found, counts = np.unique(labels[labels != 0], return_counts=True)
    if len(found) != truth.n:
        errs.append(f"{len(found)} distinct labels, expected {truth.n}")
    if not np.array_equal(np.sort(counts), np.sort(truth.sizes)):
        errs.append("per-object pixel counts differ from the truth")
    # one label per object and one object per label
    _, rank = np.unique(labels[fg], return_inverse=True)
    pairs = np.unique(truth.ids[fg].astype(np.int64) * (len(found) + 1)
                      + rank.ravel())
    if len(pairs) != truth.n:
        errs.append(f"{len(pairs) - truth.n:+d} object/label pairs beyond "
                    f"one per object (split or merged objects)")
    return errs


def read_features(path: str) -> List[dict]:
    """Every GeoJSON feature of an annotations parquet output."""
    feats = []
    for ann in _dataset(path).column("annotation").to_pylist():
        if ann is not None:
            feats.extend(json.loads(ann)["features"])
    return feats


def feature_boxes(features: Iterable[dict], nd: int) -> List[tuple]:
    """Inclusive (z0, z1,) y0, y1, x0, x1 box of each feature: the
    footprint bbox of its ring plus its ``zRange`` in 3D."""
    boxes = []
    for f in features:
        ring = np.asarray(f["geometry"]["coordinates"][0])
        box = (int(ring[:, 1].min()), int(ring[:, 1].max()),
               int(ring[:, 0].min()), int(ring[:, 0].max()))
        if nd == 3:
            z0, z1 = f["properties"]["zRange"]
            box = (int(z0), int(z1)) + box
        boxes.append(box)
    return boxes


def truth_boxes(truth: Truth) -> List[tuple]:
    return [tuple(v for ax in range(truth.lo.shape[1])
                  for v in (int(lo[ax]), int(hi[ax])))
            for lo, hi in zip(truth.lo.tolist(), truth.hi.tolist())]


def check_features(features: List[dict], truth: Truth) -> List[str]:
    """Feature count, and each footprint bbox and zRange against the
    truth (as multisets: objects are matched by their box)."""
    errs = []
    if len(features) != truth.n:
        errs.append(f"{len(features)} features, expected {truth.n}")
    got = Counter(feature_boxes(features, truth.ids.ndim))
    want = Counter(truth_boxes(truth))
    missing, extra = want - got, got - want
    if missing:
        errs.append(f"{sum(missing.values())} objects without a matching "
                    f"feature, e.g. box {next(iter(missing))}")
    if extra:
        errs.append(f"{sum(extra.values())} features matching no object, "
                    f"e.g. box {next(iter(extra))}")
    return errs
