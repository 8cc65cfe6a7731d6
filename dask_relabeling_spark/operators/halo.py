"""Spark halo-exchange operators: pad, overlap (neighbor exchange), trim.

``halo_exchange`` is the Spark expression of ``da.overlap.overlap(...,
boundary=None)`` (reference ``relabeling.py:185-190``) and of the exchange
implicit in ``da.map_overlap`` (``relabeling.py:85-95``): every tile emits
its margin slices keyed by the *destination* chunk, one ``groupBy(tile key)``
co-locates each tile with the up-to-``3^nd - 1`` margins it needs, and an
Arrow-batched ``applyInPandas`` assembles the expanded view with
``np.block``.

Why this shape at 100 TB: the only data that moves twice is the margins
(O(surface-area); for 512^2 tiles with a 16 px halo ~12 % of volume), the
shuffle key is the integer tile key (AQE can coalesce / split skewed
partitions), and the kernel never sees more than one tile plus its margins
at a time, bounding executor memory at ``tile_bytes * 3^nd`` worst case.
"""
from __future__ import annotations

from typing import Iterator, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..kernels.halo import assemble_expanded, pad_tile
from ..sources.tiles import (TILE_FIELDS, TILE_SCHEMA, TileSet,
                             attributed_error, checked_loc, key_cols,
                             pdf_classes, pdf_tile, tile_record)


def _chunk_loud(loc, fn):
    """Per-chunk loud-failure contract (the tile twin of
    ``operators/multimodal._loud``): run ``fn()`` and re-raise any
    error with the chunk's grid coordinates prepended — the posture the
    reference gets from dask, whose kernels always know their
    ``block_info`` coordinates (``chunkops.py:19-32``).  Errors already
    attributed upstream (``pdf_tile``/``pdf_classes``/``checked_loc``/
    assembly checks) carry the ``_chunk_attributed`` sentinel set by
    ``sources.tiles.attributed_error`` and pass through unchanged —
    matching on the sentinel, not the message text, so an attributed
    error re-raised while assembling a DIFFERENT chunk keeps its own
    coordinates and a kernel error whose message merely starts with
    ``tile (`` still gets attributed (round-14 ADVICE).  The wrapped
    re-raise chains the original via ``from exc``, so exception state a
    ``type(exc)(msg)`` reconstruction drops (e.g. ``OSError.errno``)
    stays reachable on ``__cause__``."""
    try:
        return fn()
    except Exception as exc:  # noqa: BLE001 — context, then re-raise
        if getattr(exc, "_chunk_attributed", False):
            raise
        msg = f"chunk {loc}: {exc}"
        try:
            new = type(exc)(msg)
        except TypeError:
            new = ValueError(msg)
        new._chunk_attributed = True
        raise new from exc

# Exchange-internal rows use BINARY payloads (raw little-endian int64),
# not ARRAY<BIGINT>: pieces are produced and consumed only by NumPy
# kernels, and a single opaque buffer skips the per-element
# UnsafeArrayData <-> Arrow list conversion on both sides of the shuffle
# (measured ~4x faster for a map->shuffle->group round-trip of 17 MB
# tiles).  The public TileSet payload stays ARRAY<BIGINT> so tile tables
# remain queryable with Spark array functions.
_PIECE_SCHEMA = T.StructType([
    T.StructField("cz", T.IntegerType(), True),
    T.StructField("cy", T.IntegerType(), False),
    T.StructField("cx", T.IntegerType(), False),
    T.StructField("pz", T.IntegerType(), True),
    T.StructField("py", T.IntegerType(), False),
    T.StructField("px", T.IntegerType(), False),
    T.StructField("d", T.IntegerType(), True),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("data", T.BinaryType(), False),
    T.StructField("nclasses", T.IntegerType(), True),
    T.StructField("classes", T.BinaryType(), True),
])
PIECE_SCHEMA = _PIECE_SCHEMA  # public: builder-side piece emission


def _mmh3_int32(x: int, seed: int = 42) -> int:
    """Murmur3_x86_32.hashInt — the exact hash Spark's HashPartitioning
    applies to an INT column (seed 42), in pure Python.  Lets the driver
    predict which shuffle partition an int key lands in
    (``pmod(hash, n)``); pinned against ``F.hash`` in
    tests/test_halo_partitioning.py so a Spark-side hash change cannot
    silently desync the placement below."""
    m = 0xffffffff
    k1 = (x * 0xcc9e2d51) & m
    k1 = ((k1 << 15) | (k1 >> 17)) & m
    k1 = (k1 * 0x1b873593) & m
    h1 = (seed & m) ^ k1
    h1 = ((h1 << 13) | (h1 >> 19)) & m
    h1 = (h1 * 5 + 0xe6546b64) & m
    h1 ^= 4                       # fmix, length = 4 bytes
    h1 ^= h1 >> 16
    h1 = (h1 * 0x85ebca6b) & m
    h1 ^= h1 >> 13
    h1 = (h1 * 0xc2b2ae35) & m
    h1 ^= h1 >> 16
    return h1 - (1 << 32) if h1 >= (1 << 31) else h1


# partition count -> salt list: _PART_SALTS[n][p] hashes onto shuffle
# partition p of n (coupon-collector search, deterministic from v=0)
_PART_SALTS: dict = {}

# Grids at or below this tile count skip the salted placement (see
# apply_by_tile_key's SMALL-GRID FALLBACK note for the measurements).
_SMALL_GRID_TILES = 8


def _salts_for(n: int) -> list:
    salts = _PART_SALTS.get(n)
    if salts is None:
        salts = [None] * n
        missing, v = n, 0
        while missing:
            p = _mmh3_int32(v) % n            # pmod: % on non-neg dividend
            if salts[p] is None:
                salts[p] = v
                missing -= 1
            v += 1
        _PART_SALTS[n] = salts
    return salts


def apply_by_tile_key(df: DataFrame, nd: int, grid, fn, schema):
    """``df.groupBy(tile key).applyInPandas(fn, schema)`` with the
    exchange placement chosen by the OPERATOR instead of hash luck and
    AQE byte-coalescing.

    Why not a plain ``groupBy``: AQE sizes post-shuffle partitions by
    BYTES (``parallelismFirst`` merges anything under
    ``minPartitionSize``, default 1 MB) — the right policy for JVM
    relational stages, exactly wrong here, where a tile group costs a
    per-key Python kernel invocation (CCL / merge / annotate) orders of
    magnitude above its serialized bytes.  At sf0.1 the 4x4 flagship
    grid coalesced to 1-3 partitions and the relabel arms ran 17-35 %
    slower than with one tile per task.  And why not
    ``repartition(n, keys)``: hashing n_tiles keys into ~n_tiles
    buckets collides (16 keys into 16 buckets leaves ~6 empty), so the
    stage's critical path is 2-3 serial kernels anyway — measured as a
    1.2x regression on the 4-tile 3D grid (4 keys, 4 buckets, 9 %
    chance of a perfect spread).

    The unit of work is the TILE and the grid is static, so place
    tiles deterministically: tile with linear index L belongs on
    shuffle partition ``L mod n`` (round-robin — perfect kernel-count
    balance at every scale), and a salt column makes Spark's own
    HashPartitioning realize that placement (salt s_p chosen so
    ``pmod(murmur3(s_p), n) == p``; the driver replays the hash via
    ``_mmh3_int32``).  The salt rides ``repartition(n, salt)`` — a
    REPARTITION_BY_NUM exchange AQE never coalesces — and leads the
    ``groupBy(salt, *keys)`` so the exchange is REUSED (HashPartitioning
    on a subset of the grouping keys satisfies the applyInPandas
    clustering requirement): exchange COUNT is unchanged, ``fn`` sees
    the same (loc, rows) groups (the salt is functionally dependent on
    the key and stripped before the call).

    ``n = min(n_tiles, max(defaultParallelism, shuffle.partitions))``:
    every tile its own task while tiles are scarcer than cores; at
    scale the session's configured shuffle width with tiles
    round-robined across it.  Malformed keys (fuzz surface: out-of-grid
    locs) fold into a valid salt via ``pmod(L, n)`` — they still form
    their own (salt, key) group and fail loudly in the kernel exactly
    as before.  Known trade vs AQE: a byte-skewed tile mix is balanced
    by COUNT not bytes — acceptable because kernel cost tracks tile
    count/geometry, and a plain groupBy could not split a single huge
    key either.

    SMALL-GRID FALLBACK (round 17): grids of <= ``_SMALL_GRID_TILES``
    tiles go through the plain ``groupBy`` instead.  Salting exists to
    defeat AQE's byte-coalescing of MANY byte-tiny kernel groups (the
    16-tile 2D grids, where it re-measured 2.0 vs 5.6 s min on a quiet
    r17 box); on the 4-tile 3D grid the groups are ~31 MB pieces AQE
    never coalesces anyway, and pinning every exchange of the chained
    pipeline to 4 partitions re-measured 7.2-10.5 s vs 3.8-5.8 s plain
    (fresh-JVM alternating A/B at final r16 HEAD — the driver's r16
    0.75x reading on the 3D arm was real, not window noise).  The
    threshold is a property of the GRID, not the box: a handful of
    groups cannot collide badly under hash spread, while the
    many-small-groups regime that needs salting only starts when the
    tile count clears it."""
    keys = key_cols(nd)
    dims = [int(g) for g in grid]
    n_tiles = 1
    for g in dims:
        n_tiles *= g
    if n_tiles <= _SMALL_GRID_TILES:
        return df.groupBy(*keys).applyInPandas(fn, schema)
    spark = df.sparkSession
    try:
        width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # "auto" or unset on some deployments
        width = 0
    n = max(1, min(n_tiles, max(spark.sparkContext.defaultParallelism,
                                width)))
    lin = F.col(keys[-1]).cast("long")
    stride = 1
    for ax in range(nd - 2, -1, -1):
        stride *= dims[ax + 1]
        lin = lin + F.col(keys[ax]).cast("long") * stride
    salt_arr = F.array(*[F.lit(s) for s in _salts_for(n)])
    salted = df.withColumn(
        "__tile_pt", F.element_at(salt_arr, (F.pmod(lin, F.lit(n))
                                             + 1).cast("int")))

    def unsalted(key, pdf):
        return fn(key[1:], pdf)

    return (salted.repartition(n, "__tile_pt")
            .groupBy("__tile_pt", *keys)
            .applyInPandas(unsalted, schema))


def _piece_shape(row, nd: int) -> tuple:
    return ((int(row["d"]), int(row["h"]), int(row["w"])) if nd == 3
            else (int(row["h"]), int(row["w"])))


def _piece_tile(row, nd: int) -> np.ndarray:
    return np.frombuffer(row["data"], dtype=np.int64) \
        .reshape(_piece_shape(row, nd))


def _piece_classes(row, nd: int):
    if row["classes"] is None or row["nclasses"] is None:
        return None
    n = int(row["nclasses"])
    return np.frombuffer(row["classes"], dtype=np.int64) \
        .reshape((n,) + _piece_shape(row, nd))


def pad_edge_tiles(ts: TileSet) -> TileSet:
    """Zero-pad edge tiles up to the chunk shape (narrow; no shuffle).
    Reference ``relabeling.py:169-183`` pads the whole array to a chunk
    multiple — per-tile that touches only the last tile of each axis."""
    nd, chunk, grid = ts.nd, ts.chunk_shape, ts.grid

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                loc = checked_loc(row, nd, grid)

                def work(row=row, loc=loc):
                    tile = pad_tile(pdf_tile(row, nd), chunk)
                    cls = pdf_classes(row, nd)
                    if cls is not None:
                        cls = np.stack([pad_tile(p, chunk) for p in cls])
                    return tile_record(loc, tile, cls)

                recs.append(_chunk_loud(loc, work))
            yield pd.DataFrame.from_records(
                recs, columns=[f.name for f in TILE_FIELDS])

    return ts.with_df(ts.df.mapInPandas(gen, TILE_SCHEMA))


def _emit_rows(tile, cls, loc, grid, depth) -> list:
    """Piece rows one tile contributes to the exchange: its own body at the
    center position plus one margin slice per existing neighbor."""
    from itertools import product as iproduct
    nd = tile.ndim
    recs = [_piece_rec(loc, (0,) * nd, tile, cls)]
    for d in iproduct((-1, 0, 1), repeat=nd):
        if all(x == 0 for x in d):
            continue
        dest = tuple(l + x for l, x in zip(loc, d))
        if any(not (0 <= c < g) for c, g in zip(dest, grid)):
            continue
        pos = tuple(-x for x in d)
        sel = tuple(
            slice(tile.shape[ax] - depth[ax], None)
            if pos[ax] == -1 else
            (slice(0, depth[ax]) if pos[ax] == 1
             else slice(None))
            for ax in range(nd))
        piece_cls = None if cls is None else cls[(slice(None),) + sel]
        recs.append(_piece_rec(dest, pos, tile[sel], piece_cls))
    return recs


def _assemble_one(loc, pdf: pd.DataFrame, nd: int, grid):
    """Inverse of ``_emit_rows``: (expanded_tile, expanded_classes) from one
    key group of piece rows.

    Exchange-integrity checks (round-14 tile fuzz arm): a tile TABLE
    with a duplicated chunk key delivers two center payloads (or two
    margin pieces at one position) to this group — previously
    last-row-wins, i.e. silently nondeterministic ownership; a table
    MISSING a chunk delivers margins with no center — previously an
    anonymous crash inside ``np.block``.  Both now fail loudly with the
    chunk's coordinates (dask makes these states unrepresentable; a
    Spark table does not)."""
    pieces, cls_pieces, center, center_cls = {}, {}, None, None
    seen_center = False
    for _, row in pdf.iterrows():
        pos = tuple(int(row[c]) for c in
                    ((["pz"] if nd == 3 else []) + ["py", "px"]))
        tile = _piece_tile(row, nd)
        cls = _piece_classes(row, nd)
        if all(p == 0 for p in pos):
            if seen_center:
                raise attributed_error(
                    f"chunk {loc}: duplicate tile — two rows share "
                    f"this tile key (the exchange received two center "
                    f"payloads)")
            center, center_cls, seen_center = tile, cls, True
        else:
            if pos in pieces:
                raise attributed_error(
                    f"chunk {loc}: duplicate margin piece at position "
                    f"{pos} — a neighboring tile key appears more than "
                    f"once in the table")
            pieces[pos] = tile
            cls_pieces[pos] = cls
    if not seen_center:
        raise attributed_error(
            f"chunk {loc}: missing tile — neighbors emitted halo "
            f"margins to this key but the table has no row for it "
            f"(tile tables must be dense over the declared grid)")
    # every in-grid neighbor owes a margin piece: a chunk missing from
    # the table starves its neighbors' assemblies too, and without this
    # check that surfaces as an anonymous KeyError inside np.block
    from itertools import product as iproduct
    axis_vals = [([-1] if loc[ax] > 0 else []) + [0]
                 + ([1] if loc[ax] < grid[ax] - 1 else [])
                 for ax in range(nd)]
    for pos in iproduct(*axis_vals):
        if all(p == 0 for p in pos) or pos in pieces:
            continue
        nb = tuple(l + p for l, p in zip(loc, pos))
        raise attributed_error(
            f"chunk {loc}: missing margin piece from neighbor {nb} "
            f"(tile tables must be dense over the declared grid)")
    expanded = assemble_expanded(center, loc, grid, pieces)
    exp_cls = None
    if center_cls is not None:
        planes = []
        for p in range(center_cls.shape[0]):
            planes.append(assemble_expanded(
                center_cls[p], loc, grid,
                {k: v[p] for k, v in cls_pieces.items()}))
        exp_cls = np.stack(planes)
    return expanded, exp_cls


def halo_exchange(ts: TileSet, overlaps: Sequence[int]) -> TileSet:
    """Grow every tile by ``overlaps`` pixels per inner side with margins
    pulled from its (up to 3^nd - 1) neighbors.  One shuffle."""
    nd, grid = ts.nd, ts.grid
    depth = tuple(int(o) for o in overlaps)

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                loc = checked_loc(row, nd, grid)
                recs.extend(_chunk_loud(loc, lambda: _emit_rows(
                    pdf_tile(row, nd), pdf_classes(row, nd), loc, grid,
                    depth)))
            yield pd.DataFrame.from_records(
                recs, columns=_PIECE_SCHEMA.fieldNames())

    def assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        loc = tuple(int(k) for k in key)
        expanded, exp_cls = _chunk_loud(
            loc, lambda: _assemble_one(loc, pdf, nd, grid))
        return pd.DataFrame.from_records(
            [tile_record(loc, expanded, exp_cls)],
            columns=[f.name for f in TILE_FIELDS])

    contribs = ts.df.mapInPandas(emit, _PIECE_SCHEMA)
    out = apply_by_tile_key(contribs, nd, grid, assemble, TILE_SCHEMA)
    return ts.with_df(out, overlaps=depth)


def fused_double_exchange(ts: TileSet, overlaps: Sequence[int],
                          pre_fn, mid_fn, final_fn) -> TileSet:
    """The whole pad->overlap->kernels->overlap->kernels pipeline in THREE
    Python passes and TWO shuffles (dask-style task fusion for the Arrow
    boundary; reference pipeline shape SURVEY §3.1):

        mapInPandas:    pre_fn(tile) -> emit margins           (pass 1)
        groupBy key ->  assemble -> mid_fn -> emit margins     (pass 2)
        groupBy key ->  assemble -> final_fn -> tile           (pass 3)

    Unfused, the same pipeline is ~10 Python/Arrow round-trips of full
    tile payloads; the kernels are identical, only the staging changes —
    golden byte-equality is preserved.  All fns: (tile, cls, loc) ->
    (tile, cls).
    """
    nd, grid = ts.nd, ts.grid
    depth = tuple(int(o) for o in overlaps)

    def emit1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                loc = checked_loc(row, nd, grid)

                def work(row=row, loc=loc):
                    tile, cls = pre_fn(pdf_tile(row, nd),
                                       pdf_classes(row, nd), loc)
                    return _emit_rows(tile, cls, loc, grid, depth)

                recs.extend(_chunk_loud(loc, work))
            yield pd.DataFrame.from_records(
                recs, columns=_PIECE_SCHEMA.fieldNames())

    p1 = ts.df.mapInPandas(emit1, _PIECE_SCHEMA)
    a2 = double_exchange_pieces(p1, nd, grid, depth, mid_fn, final_fn)
    return ts.with_df(a2, overlaps=(0,) * nd)


def emit_piece_records(tile, cls, loc, grid, depth) -> list:
    """Builder-side fusion hook: a source that materializes tiles inside
    its own Python pass (e.g. a bitmap-word expander) can emit the halo
    PIECES directly — the full tile payload then never crosses the Arrow
    boundary before the first exchange.  Rows conform to
    ``PIECE_SCHEMA``."""
    return _emit_rows(tile, cls, loc, grid, tuple(int(o) for o in depth))


def double_exchange_pieces(pieces_df: DataFrame, nd: int, grid,
                           depth, mid_fn, final_fn) -> DataFrame:
    """Passes 2+3 of ``fused_double_exchange`` for a source that already
    emitted piece records (see ``emit_piece_records``): assemble ->
    mid_fn -> emit margins -> exchange -> assemble -> final_fn -> tile.
    Same kernels, same goldens, one fewer full-payload Arrow generation.
    """

    def mid(key, pdf: pd.DataFrame) -> pd.DataFrame:
        loc = tuple(int(k) for k in key)

        def work():
            tile, cls = _assemble_one(loc, pdf, nd, grid)
            tile, cls = mid_fn(tile, cls, loc)
            return _emit_rows(tile, cls, loc, grid, depth)

        return pd.DataFrame.from_records(
            _chunk_loud(loc, work), columns=_PIECE_SCHEMA.fieldNames())

    def fin(key, pdf: pd.DataFrame) -> pd.DataFrame:
        loc = tuple(int(k) for k in key)

        def work():
            tile, cls = _assemble_one(loc, pdf, nd, grid)
            tile, cls = final_fn(tile, cls, loc)
            return [tile_record(loc, tile, cls)]

        return pd.DataFrame.from_records(
            _chunk_loud(loc, work), columns=[f.name for f in TILE_FIELDS])

    a1 = apply_by_tile_key(pieces_df, nd, grid, mid, _PIECE_SCHEMA)
    return apply_by_tile_key(a1, nd, grid, fin, TILE_SCHEMA)


def _piece_rec(dest, pos, piece: np.ndarray,
               cls: Optional[np.ndarray]) -> dict:
    nd = piece.ndim
    return {
        "cz": int(dest[0]) if nd == 3 else None,
        "cy": int(dest[-2]), "cx": int(dest[-1]),
        "pz": int(pos[0]) if nd == 3 else None,
        "py": int(pos[-2]), "px": int(pos[-1]),
        "d": int(piece.shape[0]) if nd == 3 else None,
        "h": int(piece.shape[-2]), "w": int(piece.shape[-1]),
        "data": np.ascontiguousarray(piece, dtype=np.int64).tobytes(),
        "nclasses": None if cls is None else int(cls.shape[0]),
        "classes": None if cls is None
        else np.ascontiguousarray(cls, dtype=np.int64).tobytes(),
    }


def fused_exchange_records(ts: TileSet, overlaps: Sequence[int],
                           pre_fn, finish, out_schema) -> DataFrame:
    """One halo exchange with kernels fused on both sides (2 Python
    passes, 1 shuffle): ``pre_fn(tile, cls, loc) -> (tile, cls)`` runs
    before the margin emit; ``finish(expanded, cls, loc) -> list[dict]``
    runs on the assembled view and produces the output rows directly
    (arbitrary ``out_schema`` — e.g. annotation records)."""
    nd, grid = ts.nd, ts.grid
    depth = tuple(int(o) for o in overlaps)
    cols = out_schema.fieldNames()

    def emit1(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                loc = checked_loc(row, nd, grid)

                def work(row=row, loc=loc):
                    tile, cls = pre_fn(pdf_tile(row, nd),
                                       pdf_classes(row, nd), loc)
                    return _emit_rows(tile, cls, loc, grid, depth)

                recs.extend(_chunk_loud(loc, work))
            yield pd.DataFrame.from_records(
                recs, columns=_PIECE_SCHEMA.fieldNames())

    def fin(key, pdf: pd.DataFrame) -> pd.DataFrame:
        loc = tuple(int(k) for k in key)

        def work():
            tile, cls = _assemble_one(loc, pdf, nd, grid)
            return finish(tile, cls, loc)

        return pd.DataFrame.from_records(_chunk_loud(loc, work),
                                         columns=cols)

    p1 = ts.df.mapInPandas(emit1, _PIECE_SCHEMA)
    return apply_by_tile_key(p1, nd, grid, fin, out_schema)


def exchange_records_from_pieces(pieces_df: DataFrame, nd: int, grid,
                                 finish, out_schema) -> DataFrame:
    """``fused_exchange_records`` for a source that already emitted halo
    pieces (see ``emit_piece_records``): one shuffle, one Python pass —
    assemble the expanded view and run ``finish`` directly."""
    cols = out_schema.fieldNames()

    def fin(key, pdf: pd.DataFrame) -> pd.DataFrame:
        loc = tuple(int(k) for k in key)

        def work():
            tile, cls = _assemble_one(loc, pdf, nd, grid)
            return finish(tile, cls, loc)

        return pd.DataFrame.from_records(_chunk_loud(loc, work),
                                         columns=cols)

    return apply_by_tile_key(pieces_df, nd, grid, fin, out_schema)


def map_tiles_records(ts: TileSet, finish, out_schema) -> DataFrame:
    """Narrow fused map producing arbitrary records:
    ``finish(tile, cls, loc) -> list[dict]`` per tile, one Python pass,
    no shuffle."""
    nd, grid = ts.nd, ts.grid
    cols = out_schema.fieldNames()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                loc = checked_loc(row, nd, grid)
                recs.extend(_chunk_loud(loc, lambda: finish(
                    pdf_tile(row, nd), pdf_classes(row, nd), loc)))
            yield pd.DataFrame.from_records(recs, columns=cols)

    return ts.df.mapInPandas(gen, out_schema)


def map_tiles(ts: TileSet, fn, with_loc: bool = True) -> TileSet:
    """Narrow per-tile map: ``fn(tile, classes, loc) -> (tile, classes)``.
    No shuffle; stays in one Arrow batch round-trip."""
    nd, grid = ts.nd, ts.grid

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = []
            for _, row in pdf.iterrows():
                loc = checked_loc(row, nd, grid)

                def work(row=row, loc=loc):
                    new_tile, new_cls = fn(pdf_tile(row, nd),
                                           pdf_classes(row, nd), loc)
                    return tile_record(loc, new_tile, new_cls)

                recs.append(_chunk_loud(loc, work))
            yield pd.DataFrame.from_records(
                recs, columns=[f.name for f in TILE_FIELDS])

    return ts.with_df(ts.df.mapInPandas(gen, TILE_SCHEMA))


def trim_overlap(ts: TileSet) -> TileSet:
    """Strip every tile's halo (narrow).  Reference ``relabeling.py:97``."""
    nd, grid, ov = ts.nd, ts.grid, ts.overlaps

    def fn(tile, cls, loc):
        # `-o or None`: a zero overlap must not become slice(0, -0) == empty
        sel = tuple(slice(o if c > 0 else 0,
                          (-o or None) if c < g - 1 else None)
                    for c, g, o in zip(loc, grid, ov))
        new_cls = None if cls is None else cls[(slice(None),) + sel]
        return tile[sel], new_cls

    out = map_tiles(ts, fn)
    return out.with_df(out.df, overlaps=(0,) * nd)


def crop_to_image(ts: TileSet) -> TileSet:
    """Drop the pad added to reach a chunk multiple (narrow).  Edge tiles
    shrink back to their pre-pad extent (reference ``relabeling.py:237-240``).
    """
    nd, grid, chunk, img = ts.nd, ts.grid, ts.chunk_shape, ts.image_shape

    def fn(tile, cls, loc):
        sel = tuple(slice(0, min((l + 1) * c, s) - l * c)
                    for l, c, s in zip(loc, chunk, img))
        new_cls = None if cls is None else cls[(slice(None),) + sel]
        return tile[sel], new_cls

    return map_tiles(ts, fn)
