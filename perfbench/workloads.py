"""Workload definitions and the seeded synthetic-image generator.

Every workload is one pipeline over one seeded image.  Objects sit on a
jittered lattice: each lattice cell holds at most one object and the
last pixel of every cell on every axis stays background, so distinct
objects never touch (a moat of at least 1 px, diagonals included).
Every object is smaller than the overlap on every axis.  Together these
are the pipeline's documented one-hop-merge precondition (SURVEY §4.1).

That precondition is not enough on its own: an object that crosses tile
boundaries on two or more axes at once (a tile corner) can be lost or
split by the border dedup, because its even-parity owner may drop it on
the area threshold while every other tile drops it on parity.  So no
object here crosses more than one tile boundary; lattice cells whose
object would straddle a corner stay empty.  ``generate`` refuses to
return an image that breaks any of the three rules.
"""
from __future__ import annotations

from collections import deque
from dataclasses import dataclass
from itertools import product
from typing import Dict, Tuple

import numpy as np


@dataclass(frozen=True)
class Workload:
    name: str
    pipeline: str              # "labels" (image2labels) or "geojson"
    grid: Tuple[int, ...]      # tiles per axis
    chunk: Tuple[int, ...]     # tile shape
    overlap: int               # halo depth on every axis
    obj_min: int               # smallest object extent per axis (px)
    obj_max: int               # largest object extent per axis (px)
    fill: float                # share of lattice cells holding an object
    threshold: float           # the entry point's documented default

    @property
    def nd(self) -> int:
        return len(self.grid)

    @property
    def image_shape(self) -> Tuple[int, ...]:
        return tuple(g * c for g, c in zip(self.grid, self.chunk))

    @property
    def pixels(self) -> int:
        return int(np.prod(self.image_shape))


# Why each workload exists is recorded in BENCHMARK.json and README.md.
WORKLOADS: Dict[str, Workload] = {w.name: w for w in (
    # few large tiles: payload bytes through Arrow, shuffle and the store
    Workload(name="labels2d_large_tiles", pipeline="labels", grid=(4, 4),
             chunk=(512, 512), overlap=16, obj_min=2, obj_max=11,
             fill=0.4, threshold=0.05),
    # many small tiles: per-tile and per-task fixed costs
    Workload(name="labels2d_fine_grid", pipeline="labels", grid=(12, 12),
             chunk=(64, 64), overlap=8, obj_min=2, obj_max=6, fill=0.4,
             threshold=0.05),
    # 3D to GeoJSON: 26-neighbour exchange, kernels a large share
    Workload(name="geojson3d_volume", pipeline="geojson", grid=(2, 3, 3),
             chunk=(32, 80, 80), overlap=12, obj_min=2, obj_max=8,
             fill=0.5, threshold=0.5),
)}


@dataclass(frozen=True)
class Truth:
    """A generated image and what the pipeline must find in it."""
    image: np.ndarray          # int64 input, object pixels 1
    ids: np.ndarray            # int32 object id per pixel, 0 = background
    sizes: np.ndarray          # (n,) pixel count of object i + 1
    lo: np.ndarray             # (n, nd) inclusive bbox start
    hi: np.ndarray             # (n, nd) inclusive bbox end

    @property
    def n(self) -> int:
        return len(self.sizes)


class PreconditionError(RuntimeError):
    """The generated image breaks the one-hop-merge precondition."""


def _template(ext: Tuple[int, ...]) -> np.ndarray:
    """Object shape inside its bbox: an inscribed ellipse in 2D, a full
    cuboid in 3D.  Every nonempty row of the ellipse contains its
    central column(s), so it is 4-connected by construction."""
    if len(ext) == 3:
        return np.ones(ext, dtype=bool)
    sy, sx = ext
    y = (np.arange(sy) - (sy - 1) / 2) / (sy / 2)
    x = (np.arange(sx) - (sx - 1) / 2) / (sx / 2)
    return y[:, None] ** 2 + x[None, :] ** 2 <= 1.0


def _connected(mask: np.ndarray) -> bool:
    """Axis-adjacency (4/6-connectivity) flood fill, independent of the
    program's own CCL kernel."""
    fg = {tuple(p) for p in np.argwhere(mask)}
    if not fg:
        return False
    start = next(iter(fg))
    seen, todo = {start}, deque([start])
    while todo:
        p = todo.popleft()
        for ax in range(mask.ndim):
            for step in (-1, 1):
                q = p[:ax] + (p[ax] + step,) + p[ax + 1:]
                if q in fg and q not in seen:
                    seen.add(q)
                    todo.append(q)
    return len(seen) == len(fg)


def generate(wl: Workload, seed: int) -> Truth:
    """Seeded image for ``wl``; the same seed gives the same image."""
    rng = np.random.default_rng(seed)
    nd, shape = wl.nd, wl.image_shape
    cell = wl.obj_max + 1
    occupied = rng.random(tuple(s // cell for s in shape)) < wl.fill
    origins = np.argwhere(occupied) * cell
    ext = rng.integers(wl.obj_min, wl.obj_max + 1, size=origins.shape)
    # offset < cell - ext: the cell's last pixel per axis stays background
    origins = origins + rng.integers(0, cell - ext)
    chunk = np.asarray(wl.chunk)
    straddles = ((origins // chunk) != ((origins + ext - 1) // chunk))
    keep = straddles.sum(axis=1) <= 1
    origins, ext = origins[keep], ext[keep]

    ids = np.zeros(shape, dtype=np.int32)
    painted = np.zeros(len(origins), dtype=np.int64)
    for key in {tuple(e) for e in ext.tolist()}:
        tmpl = _template(key)
        if not _connected(tmpl):
            raise PreconditionError(f"object template {key} is not "
                                    f"axis-connected")
        rows = np.flatnonzero((ext == key).all(axis=1))
        offs = np.argwhere(tmpl)
        coords = (origins[rows][:, None, :] + offs[None]).reshape(-1, nd)
        ids[tuple(coords.T)] = np.repeat(rows + 1, len(offs)).astype(
            np.int32)
        painted[rows] = len(offs)

    truth = _truth_from_ids(ids)
    if truth.n != len(origins) or not np.array_equal(truth.sizes,
                                                      painted):
        raise PreconditionError("objects overlap: painted pixel counts "
                                "differ from the id map")
    check_precondition(truth, wl.overlap, wl.chunk)
    return truth


def _truth_from_ids(ids: np.ndarray) -> Truth:
    n = int(ids.max()) if ids.size else 0
    sizes = np.bincount(ids.ravel(), minlength=n + 1)[1:]
    coords = np.nonzero(ids)
    idx = ids[coords] - 1
    lo = np.full((n, ids.ndim), np.iinfo(np.int64).max, dtype=np.int64)
    hi = np.full((n, ids.ndim), -1, dtype=np.int64)
    for ax, c in enumerate(coords):
        np.minimum.at(lo[:, ax], idx, c)
        np.maximum.at(hi[:, ax], idx, c)
    return Truth(image=(ids != 0).astype(np.int64), ids=ids, sizes=sizes,
                 lo=lo, hi=hi)


def check_precondition(truth: Truth, overlap: int,
                       chunk: Tuple[int, ...]) -> None:
    """Raise unless every object is smaller than ``overlap`` on every
    axis, crosses tile boundaries on at most one axis, and touches no
    other object, diagonals included."""
    if truth.n == 0:
        raise PreconditionError("image holds no objects")
    extent = truth.hi - truth.lo + 1
    wide = np.flatnonzero((extent >= overlap).any(axis=1))
    if len(wide):
        i = int(wide[0])
        raise PreconditionError(
            f"{len(wide)} object(s) not smaller than the overlap "
            f"{overlap}: object {i + 1} spans {extent[i].tolist()}")
    chunk = np.asarray(chunk)
    corner = np.flatnonzero(
        ((truth.lo // chunk) != (truth.hi // chunk)).sum(axis=1) > 1)
    if len(corner):
        i = int(corner[0])
        raise PreconditionError(
            f"{len(corner)} object(s) straddle a tile corner: object "
            f"{i + 1} spans {truth.lo[i].tolist()}..{truth.hi[i].tolist()}")
    ids = truth.ids
    for step in product((-1, 0, 1), repeat=ids.ndim):
        if step <= (0,) * ids.ndim:   # each neighbour direction once
            continue
        a = ids[tuple(slice(max(0, -s), ids.shape[ax] - max(0, s))
                      for ax, s in enumerate(step))]
        b = ids[tuple(slice(max(0, s), ids.shape[ax] - max(0, -s))
                      for ax, s in enumerate(step))]
        touch = (a != 0) & (b != 0) & (a != b)
        if touch.any():
            pos = np.argwhere(touch)[0].tolist()
            raise PreconditionError(
                f"objects touch without a 1 px moat near {pos} "
                f"(direction {step})")
