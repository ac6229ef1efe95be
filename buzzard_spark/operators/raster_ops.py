"""Distributed raster ↔ vector operators.

The reference runs these per-array on one machine
(reference: buzzard/_footprint.py:1538-1935); here rasters are DataFrames
of tile rows and the kernels (kernels.raster) run per tile inside
applyInPandas:

- ``rasterize``  — polygons ⨝ tiles (bbox broadcast join) →
  groupBy(tile).applyInPandas(burn) → tile mask rows.
- ``polygonize`` — the reference never had to stitch (single array;
  SURVEY.md §7.3 hard part 3). Three phases:
    1. per-tile run-length labeling (applyInPandas → run rows),
    2. cross-tile connectivity: border runs of vertically adjacent tiles
       are interval-joined; the resulting (tile,label) graph is small
       (O(total tile-border length)) and resolved with union-find,
    3. runs shuffled by global component id; one reducer per component
       rebuilds the component's (sparse, bbox-cropped) mask and traces
       rings with the exact same kernel as the single-node path — so
       distributed output == kernel output by construction.

Tile rows: (tile_y int, tile_x int, y0 int, x0 int, h int, w int,
mask binary) — mask is a packed bool numpy buffer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from buzzard_spark.kernels import geometry, raster

TILE_SCHEMA = ('tile_y int, tile_x int, y0 int, x0 int, h int, w int, '
               'mask binary')
RUN_SCHEMA = 'tile_y int, tile_x int, y int, xs int, xe int, lab int'
POLY_SCHEMA = 'component_id long, wkb binary, area double, n_rings int'


def tile_grid_df(spark: SparkSession, fp, tile_size: int) -> DataFrame:
    """Enumerate the shrink-tiling of fp as rows (pure JVM arithmetic).

    Mirrors fp.tile((tile_size, tile_size), boundary_effect='shrink') —
    conformance is pinned by tests/test_spark_tiling.py.
    """
    ntx = -(-fp.rsizex // tile_size)
    nty = -(-fp.rsizey // tile_size)
    return spark.range(ntx * nty).select(
        (F.col('id') % ntx).cast('int').alias('tile_x'),
        (F.col('id') / ntx).cast('int').alias('tile_y'),
    ).select(
        'tile_y', 'tile_x',
        (F.col('tile_y') * tile_size).alias('y0'),
        (F.col('tile_x') * tile_size).alias('x0'),
        F.least(F.lit(tile_size),
                F.lit(fp.rsizey) - F.col('tile_y') * tile_size).cast('int').alias('h'),
        F.least(F.lit(tile_size),
                F.lit(fp.rsizex) - F.col('tile_x') * tile_size).cast('int').alias('w'),
    )


def _tile_candidates(spark: SparkSession, fp, geoms: DataFrame,
                     tile_size: int) -> DataFrame:
    """tiles ⨝ broadcast(geoms) on world-bbox overlap: one row per (tile,
    candidate geometry), carrying the tile's grid columns and the
    geometry's columns (wkb, minlat, minlng, maxlat, maxlng, ...)."""
    a, b, c, d, e, f = fp._coef
    # world bbox of each tile (north-up: a>0, e<0)
    tiles = tile_grid_df(spark, fp, tile_size).select(
        '*',
        (F.col('x0') * a + c).alias('t_minx'),
        ((F.col('x0') + F.col('w')) * a + c).alias('t_maxx'),
        ((F.col('y0') + F.col('h')) * e + f).alias('t_miny'),
        (F.col('y0') * e + f).alias('t_maxy'),
    )
    return tiles.join(
        F.broadcast(geoms),
        (F.col('t_minx') <= F.col('maxlng')) & (F.col('t_maxx') >= F.col('minlng')) &
        (F.col('t_miny') <= F.col('maxlat')) & (F.col('t_maxy') >= F.col('minlat')))


def _tile_fp(gt, row):
    """Footprint of one tile row: the grid's geotransform ``gt`` shifted to
    the tile's (y0, x0) corner, raster size (w, h)."""
    from buzzard_spark.kernels.footprint import Footprint
    tile_gt = list(gt)
    tile_gt[0] = gt[0] + int(row.x0) * gt[1]
    tile_gt[3] = gt[3] + int(row.y0) * gt[5]
    return Footprint(gt=tile_gt, rsize=(int(row.w), int(row.h)))


def _burn_tiles(spark: SparkSession, fp, geoms: DataFrame, tile_size: int,
                burn) -> DataFrame:
    """Candidate join, then ``burn(tile_fp, wkbs)`` of every tile's
    candidates → tile mask rows."""
    gt = tuple(float(v) for v in fp.gt)

    def _burn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        mask = burn(_tile_fp(gt, row), [bytes(b) for b in pdf['wkb']])
        return pd.DataFrame([{
            'tile_y': int(row.tile_y), 'tile_x': int(row.tile_x),
            'y0': int(row.y0), 'x0': int(row.x0),
            'h': int(row.h), 'w': int(row.w),
            'mask': bytearray(np.packbits(mask).tobytes()),
        }])

    return (_tile_candidates(spark, fp, geoms, tile_size)
            .groupBy('tile_y', 'tile_x').applyInPandas(_burn, TILE_SCHEMA))


def rasterize(spark: SparkSession, fp, polys: DataFrame,
              tile_size: int = 256) -> DataFrame:
    """polys (region_id, wkb, minlat, minlng, maxlat, maxlng — world bbox)
    → tile mask rows. Only tiles intersecting ≥1 polygon are emitted."""
    return _burn_tiles(spark, fp, polys, tile_size, raster.burn_polygons)


def rasterize_lines(spark: SparkSession, fp, lines: DataFrame,
                    tile_size: int = 256) -> DataFrame:
    """linestrings (line_id, wkb, minlat, minlng, maxlat, maxlng) → tile
    mask rows via per-tile DDA burn (kernels.raster.burn_lines)."""
    return _burn_tiles(spark, fp, lines, tile_size, raster.burn_lines)


def rasterize_counts(spark: SparkSession, fp, polys: DataFrame,
                     tile_size: int = 64) -> DataFrame:
    """Per-region burned-pixel count: polygons ⨝ tiles, per-(tile, region)
    scanline burn, map-side partial sums → (region_id, n_pixels).

    The aggregation-shaped variant of ``rasterize`` — the distributed
    answer to "how many pixels does each polygon cover on this grid".
    """
    gt = tuple(float(v) for v in fp.gt)

    def _count(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # one Python round-trip per TILE; all its candidate regions burn
        # in a numpy loop (one tiny group per (tile, region) would pay the
        # Arrow/pickle overhead per region instead)
        tile_fp = _tile_fp(gt, pdf.iloc[0])
        out = []
        for rid, wkb in zip(pdf['region_id'], pdf['wkb']):
            mask = raster.burn_polygons(tile_fp, [bytes(wkb)])
            out.append({'region_id': int(rid), 'n_pixels': int(mask.sum())})
        return pd.DataFrame(out)

    return (_tile_candidates(spark, fp, polys, tile_size)
            .groupBy('tile_y', 'tile_x')
            .applyInPandas(_count, 'region_id long, n_pixels long')
            .groupBy('region_id')
            .agg(F.sum('n_pixels').alias('n_pixels'))
            .where(F.col('n_pixels') > 0))


def _unpack_mask(buf, h, w):
    return np.unpackbits(
        np.frombuffer(bytes(buf), dtype=np.uint8),
        count=h * w).reshape(h, w).astype(bool)


def tile_runs(mask_tiles: DataFrame) -> DataFrame:
    """Per-tile 4-connected labeling → run rows (global pixel coords).

    Run extraction is fully vectorized (round-3; round 2 looped Python
    per row/run): the labeled tile is flattened with a sentinel zero
    column appended to each row, so maximal constant-label segments of the
    flat array ARE the runs — one np.diff/flatnonzero pass per tile."""
    def _runs(key, pdf: pd.DataFrame):
        frames = []
        for _, row in pdf.iterrows():
            h, w = int(row.h), int(row.w)
            mask = _unpack_mask(row['mask'], h, w)
            labels, _n = raster._label_components(mask)
            flat = np.concatenate(
                [labels.astype(np.int64),
                 np.zeros((h, 1), np.int64)], axis=1).ravel()
            change = np.flatnonzero(flat != np.r_[0, flat[:-1]])
            if change.size == 0:
                continue
            seg_end = np.r_[change[1:], flat.size]
            vals = flat[change]
            keep = vals != 0
            s, e, v = change[keep], seg_end[keep], vals[keep]
            w1 = w + 1
            frames.append(pd.DataFrame({
                'tile_y': np.full(len(s), int(row.tile_y), np.int32),
                'tile_x': np.full(len(s), int(row.tile_x), np.int32),
                'y': (int(row.y0) + s // w1).astype(np.int64),
                'xs': (int(row.x0) + s % w1).astype(np.int64),
                'xe': (int(row.x0) + s % w1 + (e - s)).astype(np.int64),
                'lab': v,
            }))
        if not frames:
            return pd.DataFrame(
                columns=['tile_y', 'tile_x', 'y', 'xs', 'xe', 'lab'])
        return pd.concat(frames, ignore_index=True)

    return (mask_tiles.groupBy('tile_y', 'tile_x')
            .applyInPandas(_runs, RUN_SCHEMA))


LINE_SCHEMA = 'chain_id long, wkb binary, n_pts int'

_THIN_SCHEMA = TILE_SCHEMA + ', _chg long'


def _thin_block(tiles: DataFrame, n_sub: int) -> DataFrame:
    """``n_sub`` thinning subiterations (alternating Lam-Lee-Suen sub
    0/1) in ONE halo exchange — the halo-deepening round reduction: with
    an ``n_sub``-pixel halo, each subiteration invalidates one outer ring
    of the local window, so every OWN pixel's ``n_sub``-step evolution is
    exact (bit-identical to ``n_sub`` global subiterations). One
    mapInPandas + one cogroup shuffle per block; at scale the per-round
    barrier and shuffle is the dominant thinning cost, and the block
    divides the round count by ``n_sub``.

    The 8-neighbor exchange serves a halo of depth H = ``n_sub`` whenever
    H <= the grid's nominal ``tile_size``. On a shrink grid only the LAST
    tile of each axis can be smaller than ``tile_size``, and nothing lies
    beyond it: every pixel within H of a tile's own pixels sits either in
    an adjacent full-size tile, or in the adjacent last tile (which it
    covers up to the raster edge), or outside the raster (empty — the
    kernel's zero pad). That holds for a 1-px remainder tile too.

    ``_chg`` counts own-pixel deletions in the LAST TWO subiterations
    (the final full iteration) — zero means that iteration deleted
    nothing anywhere."""
    H = n_sub

    def _emit_halo(iterator):
        for pdf in iterator:
            frames = []
            for _, row in pdf.iterrows():
                h, w = int(row.h), int(row.w)
                mask = _unpack_mask(row['mask'], h, w)
                ys, xs = np.nonzero(mask)
                if not len(ys):
                    continue
                gy = (ys + int(row.y0)).astype(np.int32)
                gx = (xs + int(row.x0)).astype(np.int32)
                top, bot = ys < H, ys >= h - H
                lef, rig = xs < H, xs >= w - H
                for dy, dx, sel in ((-1, 0, top), (1, 0, bot),
                                    (0, -1, lef), (0, 1, rig),
                                    (-1, -1, top & lef), (-1, 1, top & rig),
                                    (1, -1, bot & lef), (1, 1, bot & rig)):
                    n = int(sel.sum())
                    if n:
                        frames.append(pd.DataFrame({
                            'tile_y': np.full(n, int(row.tile_y) + dy,
                                              np.int32),
                            'tile_x': np.full(n, int(row.tile_x) + dx,
                                              np.int32),
                            'y': gy[sel], 'x': gx[sel]}))
            yield (pd.concat(frames, ignore_index=True) if frames else
                   pd.DataFrame(columns=['tile_y', 'tile_x', 'y', 'x']))

    halos = tiles.mapInPandas(_emit_halo, 'tile_y int, tile_x int, '
                                          'y int, x int')

    def _apply(key, tpdf: pd.DataFrame, hpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(tpdf):
            return pd.DataFrame(columns=[
                'tile_y', 'tile_x', 'y0', 'x0', 'h', 'w', 'mask', '_chg'])
        row = tpdf.iloc[0]
        h, w = int(row.h), int(row.w)
        y0, x0 = int(row.y0), int(row.x0)
        mask = _unpack_mask(row['mask'], h, w)
        # window = own tile + H-px halo ring, plus the 1-px zero pad
        # _thin_delete needs; cells beyond the halo are assumed empty,
        # which is exactly the staleness the per-subiteration validity
        # argument absorbs (ring k of the window is stale after k
        # subiterations; own pixels sit >= H rings deep).
        P = np.zeros((h + 2 * H + 2, w + 2 * H + 2), bool)
        P[H + 1:H + 1 + h, H + 1:H + 1 + w] = mask
        if len(hpdf):
            hy = hpdf['y'].to_numpy(np.int64) - y0 + H + 1
            hx = hpdf['x'].to_numpy(np.int64) - x0 + H + 1
            P[hy, hx] = True
        chg = 0
        for k in range(n_sub):
            d = raster._thin_delete(P, k % 2)
            if k >= n_sub - 2:
                chg += int(d[H:H + h, H:H + w].sum())
            if d.any():
                P[1:-1, 1:-1] &= ~d
        return pd.DataFrame([{
            'tile_y': int(row.tile_y), 'tile_x': int(row.tile_x),
            'y0': y0, 'x0': x0, 'h': h, 'w': w,
            'mask': bytearray(np.packbits(
                P[H + 1:H + 1 + h, H + 1:H + 1 + w]).tobytes()),
            '_chg': chg}])

    return (tiles.groupby('tile_y', 'tile_x')
            .cogroup(halos.groupby('tile_y', 'tile_x'))
            .applyInPandas(_apply, _THIN_SCHEMA))


def thin_tiles(spark: SparkSession, mask_tiles: DataFrame, tile_size: int,
               max_iters: int = 1024,
               cache_registry: list | None = None) -> DataFrame:
    """Distributed morphological thinning of a tiled mask — the scale
    analogue of ``kernels.raster.thin`` (the reference's ``skm.thin``
    preprocessing, buzzard/_footprint.py:1631): every round, each tile
    exchanges a halo with its 8 neighbors and runs the Lam-Lee-Suen
    subiterations on its own pixels (``_thin_block``); the loop stops when
    a full iteration deletes nothing anywhere. Output masks are
    bit-identical to the kernel on the stitched array.

    ``tile_size`` is the nominal tile size of the shrink grid the tiles
    come from (the same argument ``polygonize`` and ``vectorize_lines``
    take). It sizes the halo without a job: 4 px (two full iterations
    per exchange) for ``tile_size >= 4``, else 2 px — a depth the
    8-neighbor exchange serves on every shrink grid, remainder tiles of
    any width included (``_thin_block``). ``tile_size < 2`` raises.

    Scale shape: each round is one cogroup shuffle of (packed tile masks +
    sparse halo pixels) — nothing mask-sized on the driver; the round
    count is O(max inscribed blob radius), the propagation lower bound
    any parallel thinning shares. Rounds use lazy localCheckpoints (one
    job per round, the convergence sum) and all round blocks are released
    through a reliable checkpoint of the result — unless a
    ``cache_registry`` list is passed (composition inside
    ``vectorize_lines``): then the round blocks land in the registry, the
    final round (already block-materialized by its convergence action)
    returns as-is, and the DOWNSTREAM operator's single reliable
    checkpoint releases them."""
    from buzzard_spark.session import checkpoint_release

    if tile_size < 2:
        raise ValueError(f'thin_tiles needs tile_size >= 2: {tile_size}')
    n_sub = 4 if tile_size >= 4 else 2
    tiles = mask_tiles.select('tile_y', 'tile_x', 'y0', 'x0', 'h', 'w',
                              'mask')
    ckpts = []
    for _ in range(0, max_iters, n_sub // 2):
        # the checked sum counts ONLY the block's last full iteration's
        # deletions — zero means a full iteration deleted nothing, the
        # sound fixpoint criterion. With n_sub = 4 the worst case runs one
        # extra iteration at the fixpoint, which deletes nothing (thinning
        # is idempotent there), so the output mask is bit-identical at
        # half the jobs.
        tiles = _thin_block(tiles, n_sub).localCheckpoint(eager=False)
        ckpts.append(tiles)
        total = tiles.agg(F.sum('_chg')).collect()[0][0] or 0
        if total == 0:
            break
    else:
        raise RuntimeError(
            f'thin_tiles did not converge in {max_iters} iterations')
    if cache_registry is not None:
        cache_registry.extend(ckpts)
        return tiles.drop('_chg')
    return checkpoint_release(tiles.drop('_chg'), ckpts)


def _halo_pixels(mask_tiles: DataFrame, halo: int) -> DataFrame:
    """Pixel rows (tile_y, tile_x, y, x, own bool): each tile's set pixels
    plus its 8 neighbors' set pixels within ``halo`` of its border (halo
    rows carry own=false). Emission is vectorized inside the pandas
    kernel; the shuffle is keyed by destination tile. Exact for any
    ``halo`` <= the grid's nominal tile size (``_thin_block``)."""
    def _emit(key, pdf: pd.DataFrame):
        tys, txs, ys_o, xs_o, owns = [], [], [], [], []

        def _add(ty, tx, gy, gx, own):
            n = len(gy)
            if n == 0:
                return
            tys.append(np.full(n, ty, np.int32))
            txs.append(np.full(n, tx, np.int32))
            ys_o.append(gy)
            xs_o.append(gx)
            owns.append(np.full(n, own, bool))

        for _, row in pdf.iterrows():
            h, w = int(row.h), int(row.w)
            ty, tx = int(row.tile_y), int(row.tile_x)
            mask = _unpack_mask(row['mask'], h, w)
            ys, xs = np.nonzero(mask)
            gy = (ys + int(row.y0)).astype(np.int32)
            gx = (xs + int(row.x0)).astype(np.int32)
            _add(ty, tx, gy, gx, True)
            # replicate border-band pixels into the 8 neighbor tiles as
            # halo — one boolean-mask slice per direction (no per-pixel
            # Python)
            top, bot = ys < halo, ys >= h - halo
            lef, rig = xs < halo, xs >= w - halo
            for dy, dx, sel in ((-1, 0, top), (1, 0, bot),
                                (0, -1, lef), (0, 1, rig),
                                (-1, -1, top & lef), (-1, 1, top & rig),
                                (1, -1, bot & lef), (1, 1, bot & rig)):
                _add(ty + dy, tx + dx, gy[sel], gx[sel], False)
        if not tys:
            return pd.DataFrame(
                columns=['tile_y', 'tile_x', 'y', 'x', 'own'])
        return pd.DataFrame({
            'tile_y': np.concatenate(tys), 'tile_x': np.concatenate(txs),
            'y': np.concatenate(ys_o), 'x': np.concatenate(xs_o),
            'own': np.concatenate(owns)})

    return (mask_tiles.groupBy('tile_y', 'tile_x').applyInPandas(
        _emit, 'tile_y int, tile_x int, y int, x int, own boolean'))


_EDGE_SCHEMA = ('eid long, ax int, ay int, bx int, by int, '
                'ea long, eb long, la long, lb long')


def _edges_with_links(pixels: DataFrame) -> DataFrame:
    """Pixel-graph edge extraction + 2×2-square collapse from ONE 2-px-halo
    view (``_halo_pixels(..., 2)``): one applyInPandas pass emits the
    finished edge rows (eid, endpoints, square-extended endpoints ea/eb,
    nullable square top-lefts la/lb), each edge once, by the tile owning
    its first endpoint. Validity: an edge's far endpoint b lies within
    1 px of an own pixel, b's candidate squares within 1 px of b, and
    their member pixels within 1 px again — all inside the 2-px halo, so
    la/lb (and the row-major last-wins tie-break of
    kernels.raster.square_links, reproduced by ascending-TL overwrite)
    are computed exactly as the global kernel computes them. The 2-px
    halo is complete on every shrink grid with ``tile_size >= 2``, 1-px
    remainder tiles included (same argument as ``_thin_block``). Segments
    fully inside squares (la AND lb both set) are dropped here."""
    def _emit(key, pdf: pd.DataFrame):
        cols = ['eid', 'ax', 'ay', 'bx', 'by', 'ea', 'eb', 'la', 'lb']
        if not len(pdf):
            return pd.DataFrame(columns=cols)
        xs = pdf['x'].to_numpy(np.int64)
        ys = pdf['y'].to_numpy(np.int64)
        own_rows = pdf['own'].to_numpy(bool)
        if not own_rows.any():
            return pd.DataFrame(columns=cols)
        x0, y0 = int(xs.min()) - 1, int(ys.min()) - 1
        W = int(xs.max()) - x0 + 2
        H = int(ys.max()) - y0 + 2
        grid = np.zeros((H, W), bool)
        grid[ys - y0, xs - x0] = True
        owng = np.zeros((H, W), bool)
        owng[ys[own_rows] - y0, xs[own_rows] - x0] = True
        sq = np.zeros((H, W), bool)
        sq[:-1, :-1] = (grid[:-1, :-1] & grid[1:, :-1] &
                        grid[:-1, 1:] & grid[1:, 1:])

        def _shift(a, dy, dx):
            # out[y, x] = a[y + dy, x + dx] (zeros outside)
            out = np.zeros_like(a)
            ys0, ys1 = max(0, -dy), min(H, H - dy)
            xs0, xs1 = max(0, -dx), min(W, W - dx)
            if ys0 < ys1 and xs0 < xs1:
                out[ys0:ys1, xs0:xs1] = a[ys0 + dy:ys1 + dy,
                                          xs0 + dx:xs1 + dx]
            return out

        # per-cell square top-left (or -1): ascending-TL overwrite — the
        # kernel's row-major last-wins tie-break (square AT the pixel wins
        # last)
        yidx, xidx = np.indices((H, W))
        tly = np.full((H, W), -1, np.int64)
        tlx = np.full((H, W), -1, np.int64)
        for dy, dx in ((1, 1), (1, 0), (0, 1), (0, 0)):
            m = _shift(sq, -dy, -dx)  # m[y, x] = sq[y - dy, x - dx]
            tly = np.where(m, yidx - dy, tly)
            tlx = np.where(m, xidx - dx, tlx)

        frames = []
        for di, (dx, dy) in enumerate(((1, 0), (0, 1), (1, 1), (1, -1))):
            pair = owng & _shift(grid, dy, dx)
            if dx and dy:
                pair &= ~(_shift(grid, 0, dx) | _shift(grid, dy, 0))
            py, px = np.nonzero(pair)
            if not len(py):
                continue
            lay = tly[py, px]
            lax = tlx[py, px]
            lby = tly[py + dy, px + dx]
            lbx = tlx[py + dy, px + dx]
            keep = (lay < 0) | (lby < 0)
            if not keep.any():
                continue
            py, px = py[keep], px[keep]
            lay, lax = lay[keep], lax[keep]
            lby, lbx = lby[keep], lbx[keep]
            ax = (px + x0).astype(np.int64)
            ay = (py + y0).astype(np.int64)
            bx, by = ax + dx, ay + dy
            na = ay * 2097152 + ax
            nb = by * 2097152 + bx
            la = (lay + y0) * 2097152 + (lax + x0)
            lb = (lby + y0) * 2097152 + (lbx + x0)
            frames.append(pd.DataFrame({
                'eid': na * 4 + di,
                'ax': ax.astype(np.int32), 'ay': ay.astype(np.int32),
                'bx': bx.astype(np.int32), 'by': by.astype(np.int32),
                'ea': np.where(lay >= 0, la, na),
                'eb': np.where(lby >= 0, lb, nb),
                'la': pd.Series(la, dtype='Int64').where(lay >= 0),
                'lb': pd.Series(lb, dtype='Int64').where(lby >= 0),
            }))
        if not frames:
            return pd.DataFrame(columns=cols)
        return pd.concat(frames, ignore_index=True)

    return (pixels.groupBy('tile_y', 'tile_x')
            .applyInPandas(_emit, _EDGE_SCHEMA))


def vectorize_lines(spark: SparkSession, fp, mask_tiles: DataFrame,
                    tile_size: int = 256, thin_first: bool = True) -> DataFrame:
    """Distributed ``find_lines``: tile masks → merged polyline rows
    (chain_id, wkb linestring, n_pts), world coordinates
    (reference semantics: buzzard/_footprint.py:1538-1717 — thin mask →
    pixel graph → merge degree-2 chains; kernel twin kernels.raster
    .find_lines, conformance pinned by tests/test_spark_raster.py).

    ``tile_size`` is the nominal tile size of the fp shrink grid the
    tiles come from; ``tile_size < 2`` raises. Both halo exchanges below
    are exact on every such grid, however narrow its remainder tiles —
    only the last tile of an axis can be short, and nothing lies beyond
    it (``_thin_block``).

    Scale shape (mirrors ``polygonize`` — nothing mask-sized on driver):

    0. distributed thinning (``thin_tiles``, the reference's ``skm.thin``
       preprocessing),
    1. per-tile pixel-graph edge extraction + 2×2-square collapse from one
       2-px halo shuffle (``_edges_with_links``; each edge emitted
       exactly once, by the tile owning its first endpoint),
    2. node degrees = groupBy count; edges sharing a degree-2 node belong
       to one chain; intra-tile fragments contract in a per-tile
       union-find, then distributed connected components over the fragment
       graph (junction nodes split chains exactly like the kernel's walk),
    3. one reducer per chain orders its edges into the polyline —
       O(chain length), the longest single polyline is the natural lower
       bound for any vectorizer's output row.
    """
    from buzzard_spark.operators.graph import connected_components
    from buzzard_spark.session import checkpoint_release

    if tile_size < 2:
        raise ValueError(f'vectorize_lines needs tile_size >= 2: {tile_size}')
    # one reliable checkpoint for the WHOLE pipeline: thin_tiles and the
    # fragment CC register their round blocks here instead of writing
    # their own file-backed checkpoints
    registry: list = []
    if thin_first:
        mask_tiles = thin_tiles(spark, mask_tiles, tile_size,
                                cache_registry=registry)
    edges_px = _edges_with_links(_halo_pixels(mask_tiles, 2)).persist()
    if edges_px.isEmpty():
        empty = spark.createDataFrame([], LINE_SCHEMA)
        return checkpoint_release(empty, [edges_px] + registry)
    ends = (edges_px.select(F.col('eid'), F.col('ea').alias('node'))
            .unionByName(edges_px.select('eid', F.col('eb').alias('node'))))
    deg2 = (ends.groupBy('node').agg(F.count('*').alias('d'),
                                     F.min('eid').alias('e1'),
                                     F.max('eid').alias('e2'))
            .where(F.col('d') == 2))
    pairs = deg2.select(F.col('e1').alias('id_a'), F.col('e2').alias('id_b'))
    # two-level chain resolution (round 3; round 2 pushed EVERY edge id
    # through the global CC): pairs whose two edges originate in the same
    # tile are contracted by a per-tile union-find first, so the global CC
    # sees one node per intra-tile chain FRAGMENT (O(border crossings +
    # junctions) nodes instead of O(set pixels)). lroot = min eid of the
    # local fragment, so the global component min — and therefore the
    # emitted chain_id — is bit-identical to the uncontracted labeling.
    tkey = ('((({e} DIV 4) DIV 2097152) DIV {ts}) * 4194304 + '
            '((({e} DIV 4) % 2097152) DIV {ts})')
    pairs_t = (pairs
               .withColumn('_ta', F.expr(tkey.format(e='id_a', ts=tile_size)))
               .withColumn('_tb', F.expr(tkey.format(e='id_b', ts=tile_size))))
    intra = pairs_t.where(F.col('_ta') == F.col('_tb'))
    cross = pairs_t.where(F.col('_ta') != F.col('_tb')).select('id_a', 'id_b')

    def _uf(key, pdf: pd.DataFrame) -> pd.DataFrame:
        parent = {}

        def find(a):
            root = a
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(a, a) != a:
                parent[a], a = root, parent[a]
            return root

        for a, b in zip(pdf['id_a'].tolist(), pdf['id_b'].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra  # union-by-min: root is the set's min eid
        eids = sorted(set(pdf['id_a'].tolist()) | set(pdf['id_b'].tolist()))
        return pd.DataFrame({'eid': eids,
                             'lroot': [find(e) for e in eids]})

    local = intra.groupBy('_ta').applyInPandas(_uf, 'eid long, lroot long')
    # eid = (origin pixel)*4 + dir is unique per edge row by construction
    # (each tile emits its own pixels' edges exactly once), so no distinct
    # — the old distinct() was a full extra exchange of the edge set
    m = (edges_px.select('eid')
         .join(local, 'eid', 'left')
         .select('eid', F.coalesce('lroot', 'eid').alias('lroot'))
         .persist())
    crossm = (cross
              .join(m.select(F.col('eid').alias('id_a'),
                             F.col('lroot').alias('_la')), 'id_a')
              .join(m.select(F.col('eid').alias('id_b'),
                             F.col('lroot').alias('_lb')), 'id_b')
              .select(F.col('_la').alias('id_a'), F.col('_lb').alias('id_b')))
    comp = connected_components(
        m.select(F.col('lroot')).distinct(), crossm, id_col='lroot',
        cache_registry=registry)
    chains = (m.join(comp, 'lroot')
              .select('eid', F.col('comp').alias('chain_id')))
    tagged = edges_px.join(chains, 'eid')

    coef = tuple(float(v) for v in fp._coef)

    def _assemble(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # one reducer per chain: rebuild vertex-list segments (with the
        # square-collapse endpoint extensions) and merge them with the
        # SAME deterministic linemerge walk as the kernel
        # (kernels.raster.merge_segments) — distributed == kernel by
        # construction
        cid = int(key[0])
        segs = []
        la_col = pdf['la']
        lb_col = pdf['lb']
        for i, (ax, ay, bx, by) in enumerate(
                zip(pdf['ax'], pdf['ay'], pdf['bx'], pdf['by'])):
            a = (int(ax), int(ay))
            b = (int(bx), int(by))
            path = [a, b]
            la = la_col.iloc[i]
            lb = lb_col.iloc[i]
            if pd.notna(la):
                tl = (int(la) % 2097152, int(la) // 2097152)
                if tl != a:
                    path.insert(0, tl)
            if pd.notna(lb):
                tl = (int(lb) % 2097152, int(lb) // 2097152)
                if tl != b:
                    path.append(tl)
            segs.append(path)
        from buzzard_spark.kernels import geometry as geom
        a_, b_, c_, d_, e_, f_ = coef
        rows = []
        for path in raster.merge_segments(segs):
            px = np.asarray([p[0] + 0.5 for p in path])
            py = np.asarray([p[1] + 0.5 for p in path])
            line = np.column_stack(
                [px * a_ + py * b_ + c_, px * d_ + py * e_ + f_])
            rows.append({'chain_id': cid,
                         'wkb': bytearray(geom.wkb_linestring(line)),
                         'n_pts': len(path)})
        return pd.DataFrame(rows)

    out = tagged.groupBy('chain_id').applyInPandas(_assemble, LINE_SCHEMA)
    # the pipeline's ONE reliable checkpoint: materialize the linework,
    # release the persisted edge/fragment tables plus every thinning/CC
    # round block registered above (cache-lifetime contract)
    return checkpoint_release(out, [edges_px, m] + registry)


# packed node id for the border-run graph: (tile_y, tile_x, lab) → int64.
# 21 bits each ⇒ up to 2^21 tiles per axis and 2^21 labels per tile
# (tile_size up to 2048); 63 bits total, no overflow.
_NODE_PACK = '((CAST(tile_y AS BIGINT) * 2097152 + tile_x) * 2097152 + lab)'


def _border_edges(runs: DataFrame, tile_size: int) -> DataFrame:
    """Cross-tile adjacency of border runs as packed-node edge rows
    (id_a, id_b) — stays distributed (O(total tile-border length) rows)."""
    r = runs.withColumn('node', F.expr(_NODE_PACK))
    # vertical adjacency: bottom row of tile (ty) ↔ top row of tile (ty+1)
    bottom = r.where((F.col('y') + 1) % tile_size == 0).alias('a')
    top = r.where(F.col('y') % tile_size == 0).alias('b')
    vert = bottom.join(
        top,
        (F.col('a.y') + 1 == F.col('b.y')) &
        (F.col('a.xs') < F.col('b.xe')) & (F.col('b.xs') < F.col('a.xe')))
    # horizontal adjacency: last col of tile ↔ first col of next tile
    right = r.where(F.col('xe') % tile_size == 0).alias('a')
    left = r.where(F.col('xs') % tile_size == 0).alias('b')
    horiz = right.join(
        left,
        (F.col('a.xe') == F.col('b.xs')) & (F.col('a.y') == F.col('b.y')))
    sel = [F.col('a.node').alias('id_a'), F.col('b.node').alias('id_b')]
    return vert.select(*sel).unionByName(horiz.select(*sel))


def polygonize(spark: SparkSession, fp, mask_tiles: DataFrame,
               tile_size: int = 256) -> DataFrame:
    """Distributed find_polygons: tile masks → polygon rows
    (component_id, wkb multirings, area, n_rings), world coordinates.
    component_id = packed min (tile_y, tile_x, lab) node of the component
    (stable, but not dense).

    Scale shape (nothing graph- or mask-sized touches the driver):

    1. per-tile run-length labeling (``tile_runs``, applyInPandas),
    2. cross-tile connectivity = distributed connected components over the
       border-run adjacency graph (operators.graph, large-star/small-star
       joins) — replaces a driver-side union-find,
    3. one reducer per component traces rings directly from its runs
       (``kernels.raster.trace_rings_from_runs``): O(perimeter) memory —
       the component's dense bbox mask (O(area), OOM at continent scale)
       is never rebuilt.
    """
    from buzzard_spark.operators.graph import connected_components

    runs = tile_runs(mask_tiles).withColumn('node', F.expr(_NODE_PACK)) \
        .persist()
    if runs.isEmpty():
        runs.unpersist()
        return spark.createDataFrame([], POLY_SCHEMA)
    edges = _border_edges(runs.drop('node'), tile_size)
    # composed CC: round blocks go to the registry; the single reliable
    # checkpoint at the end of this function releases them (VERDICT r3 #2)
    registry: list = []
    labels = connected_components(
        runs.select('node').distinct(), edges, id_col='node',
        cache_registry=registry)
    tagged = runs.join(labels, 'node').withColumnRenamed('comp',
                                                         'component_id')

    coef = tuple(float(v) for v in fp._coef)

    def _trace(key, pdf: pd.DataFrame) -> pd.DataFrame:
        gid = int(key[0])
        rings_px = raster.trace_rings_from_runs(
            pdf['y'].to_numpy(), pdf['xs'].to_numpy(), pdf['xe'].to_numpy())
        rings_w = []
        a, b, c, d, e_, f_ = coef
        for ring in rings_px:
            gx = ring[:, 0]
            gy = ring[:, 1]
            rings_w.append(np.column_stack(
                [gx * a + gy * b + c, gx * d + gy * e_ + f_]))
        areas = [abs(geometry.ring_area(r)) for r in rings_w]
        order = np.argsort(areas)[::-1]
        rings_w = [rings_w[i] for i in order]
        wkb = geometry.wkb_polygon(rings_w[0], rings_w[1:])
        return pd.DataFrame([{
            'component_id': gid,
            'wkb': bytearray(wkb),
            'area': geometry.polygon_area(rings_w),
            'n_rings': len(rings_w),
        }])

    from buzzard_spark.session import checkpoint_release
    out = tagged.groupBy('component_id').applyInPandas(_trace, POLY_SCHEMA)
    # materialize the polygons, release the persisted run table + CC rounds
    return checkpoint_release(out, [runs] + registry)


def zonal_stats(spark: SparkSession, fp, polys: DataFrame,
                value_fn=None, tile_size: int = 64) -> DataFrame:
    """Per-zone raster statistics — the GIS ``zonal statistics`` op the
    reference computes array-at-a-time via ``burn_polygons`` + numpy
    masking (reference: buzzard/_footprint.py burn + caller-side
    ``arr[mask]`` reductions): for every polygon, aggregate the value
    raster over the pixels the polygon covers (pixel-center rule,
    identical to :func:`rasterize`)::

        (region_id, n_pixels, v_sum, v_min, v_max)

    ``value_fn(ys, xs) -> int64[h, w]`` produces the value tile from
    GLOBAL pixel row/col index vectors (an analytic or decoded band;
    deterministic, so any tile can be recomputed anywhere — the recipe
    model). Default: ``(17 * x + 31 * y) mod 97`` — a synthetic band the
    DuckDB oracle reproduces exactly in integer arithmetic.

    Scale shape: identical to :func:`rasterize_counts` — tiles ⨝
    broadcast(polys) on bbox, ONE Python round-trip per tile burning all
    its candidate zones, map-side partial aggregation, final exchange
    only on (small) region ids. Zones may overlap (each aggregates
    independently) — the labelize trick (one burn, one label raster)
    would lose overlapping zones, so the per-(tile, zone) burn is the
    correct general form. An actual stored band drops in by joining the
    value tiles on (tile_y, tile_x) instead of recomputing — the
    aggregation shape is unchanged.
    """
    gt = tuple(float(v) for v in fp.gt)
    vfn = value_fn if value_fn is not None else (
        lambda ys, xs: (17 * xs[None, :] + 31 * ys[:, None]) % 97)

    def _stats(key, pdf: pd.DataFrame) -> pd.DataFrame:
        row = pdf.iloc[0]
        tile_fp = _tile_fp(gt, row)
        ys = np.arange(int(row.y0), int(row.y0) + int(row.h),
                       dtype=np.int64)
        xs = np.arange(int(row.x0), int(row.x0) + int(row.w),
                       dtype=np.int64)
        vals = np.asarray(vfn(ys, xs), dtype=np.int64)
        out = []
        for rid, wkb in zip(pdf['region_id'], pdf['wkb']):
            mask = raster.burn_polygons(tile_fp, [bytes(wkb)])
            if not mask.any():
                continue
            mv = vals[mask]
            out.append({'region_id': int(rid),
                        'n_pixels': int(mask.sum()),
                        'v_sum': int(mv.sum()),
                        'v_min': int(mv.min()),
                        'v_max': int(mv.max())})
        return pd.DataFrame(
            out, columns=['region_id', 'n_pixels', 'v_sum', 'v_min',
                          'v_max'])

    return (_tile_candidates(spark, fp, polys, tile_size)
            .groupBy('tile_y', 'tile_x')
            .applyInPandas(_stats, 'region_id long, n_pixels long, '
                                   'v_sum long, v_min long, v_max long')
            .groupBy('region_id')
            .agg(F.sum('n_pixels').alias('n_pixels'),
                 F.sum('v_sum').alias('v_sum'),
                 F.min('v_min').alias('v_min'),
                 F.max('v_max').alias('v_max')))
