"""The benchmark's workloads.

Each workload makes its inputs from the seed (``generate``), does its Spark
set-up (``prepare``), computes the expected outputs once without Spark
(``compute_truth``) and runs one iteration of engine calls (``iteration``).
Every DataFrame is rebuilt inside each iteration, so no iteration reuses
the shuffle output of an earlier one. Each timed op is one engine call chain
that ends in an action; its output is checked against the truth outside
the timed region.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from buzzard_spark import synth
from buzzard_spark.env import env
from buzzard_spark.functions import sqlgen
from buzzard_spark.kernels import affine6, geometry, raster
from buzzard_spark.kernels.footprint import Footprint
from buzzard_spark.operators import dedup, graph, knn, raster_ops, spatial_join
from buzzard_spark.sources.snapshot_table import SnapshotTable

from tracer import materialize

RES = 4                  # cover-cell resolution of the region joins
GLOBE = dict(tl=(-180.0, 90.0), size=(360.0, 180.0))


class OpLog:
    """Per-op latency and outcome of one iteration."""

    def __init__(self):
        self.ops: list[dict] = []

    def op(self, name, fn, check):
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # an engine failure counts, never aborts
            self.ops.append({'op': name, 's': time.perf_counter() - t0,
                             'ok': False, 'error': f'{type(exc).__name__}: '
                                                   f'{str(exc)[:300]}'})
            return None
        dt = time.perf_counter() - t0
        try:
            problem = check(out)
        except Exception as exc:
            problem = f'check raised {type(exc).__name__}: {str(exc)[:300]}'
        self.ops.append({'op': name, 's': dt, 'ok': problem is None,
                         'error': problem})
        return out


def _diff(what, got, want):
    if got == want:
        return None
    if isinstance(want, (set, dict)):
        return (f'{what}: {len(got)} vs {len(want)} expected, '
                f'e.g. {sorted(set(got) ^ set(want))[:3]}')
    return f'{what}: got {got}, expected {want}'


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _tile_xy_np(lat, lng, fp):
    """numpy mirror of sqlgen.tile_xy_sql (same constants, same op order)."""
    largest = float(np.abs(fp.coords).max())
    sp = largest * 10 ** -env.significant
    agd = float(np.floor(1 / (sp / float(fp.pxsize.min()))))
    a, _, c, _, e, f = (float(v) for v in affine6.inverse(fp._coef))
    tx = np.floor(np.floor((lng * a + c) * agd + 0.5) / agd).astype(np.int64)
    ty = np.floor(np.floor((lat * e + f) * agd + 0.5) / agd).astype(np.int64)
    return tx, ty


def _region_rows(ids, shape: str, id_offset: int = 0):
    """Region dimension rows (region_id, wkb, bbox) — rectangles or the
    synth module's convex pentagons. The geometry is that of ``ids``; the
    region ids are ``ids + id_offset``."""
    cols = sqlgen.region_cols_np(ids)
    pent = np.asarray(sqlgen.PENTAGON)
    rows = []
    for i, rid in enumerate(ids):
        if shape == 'pentagon':
            vx = cols['clng'][i] + cols['halfw'][i] * pent[:, 0]
            vy = cols['clat'][i] + cols['halfh'][i] * pent[:, 1]
            ring = np.column_stack([vx, vy])
            box = (vy.min(), vx.min(), vy.max(), vx.max())
        else:
            lo_x, hi_x = cols['minlng'][i], cols['maxlng'][i]
            lo_y, hi_y = cols['minlat'][i], cols['maxlat'][i]
            ring = np.asarray([(lo_x, lo_y), (hi_x, lo_y), (hi_x, hi_y),
                               (lo_x, hi_y), (lo_x, lo_y)])
            box = (lo_y, lo_x, hi_y, hi_x)
        rows.append((int(rid) + id_offset,
                     bytearray(geometry.wkb_polygon(ring)),
                     *(float(v) for v in box)))
    return rows


REGION_SCHEMA = ('region_id long, wkb binary, minlat double, '
                 'minlng double, maxlat double, maxlng double')


class Workload:
    name = ''
    SIZES: dict = {}

    def __init__(self, seed: int, size: str = 'full'):
        self.seed = seed
        self.cfg = self.SIZES[size]
        self.truth: dict = {}

    def _rng(self):
        """A fresh generator: every set-up generates the same inputs."""
        return np.random.default_rng([self.seed, self.SEED_SALT])

    def prepare(self, spark, workdir: str):
        pass

    def fingerprint(self) -> str:
        """Digest of the generated inputs (two seeds must differ)."""
        return hashlib.md5(repr(self._inputs()).encode()).hexdigest()

    def plant(self):
        """Corrupt one expected value: the next check must fail."""
        key = sorted(self.truth)[0]
        val = self.truth[key]
        self.truth[key] = (val + 1 if isinstance(val, int)
                           else type(val)())


class FlagshipJoin(Workload):
    name = 'flagship_join'
    SEED_SALT = 1
    SIZES = {'full': dict(pages=2_000_000, parts=8, regions=1000),
             'tiny': dict(pages=200_000, parts=4, regions=60)}
    FP = Footprint(rsize=(512, 256), **GLOBE)
    GK = '(region_id * 131072 + tile_y * 512 + tile_x)'

    last_bytes = 0      # bytes of the last append, read by layer_metrics

    def generate(self):
        off = int(self._rng().integers(0, 500_000))
        self.region_ids = np.arange(off, off + self.cfg['regions'])
        self.input_rows = self.cfg['pages']

    def _inputs(self):
        return (self.cfg['pages'], self.region_ids.tolist())

    def prepare(self, spark, workdir):
        self.table_root = _fresh_dir(os.path.join(workdir, 'flagship'))

    def _regions(self, spark):
        ids = spark.createDataFrame(pd.DataFrame(
            {'region_id': self.region_ids.astype(np.int64)}))
        cols = sqlgen.region_cols_sql('region_id')
        return ids.select('region_id', *[F.expr(sql).alias(name)
                                         for name, sql in cols.items()])

    def compute_truth(self):
        """Exact per-(region, tile) counts in numpy: pages are binned on a
        1-degree grid, each bin lists the regions whose box touches it,
        and every (page, listed region) pair is tested with the same
        inclusive comparisons the engine's refine uses."""
        n = self.cfg['pages']
        cols = sqlgen.region_cols_np(self.region_ids)
        bx0 = np.clip(np.floor(cols['minlng'] + 180), 0, 359).astype(int)
        bx1 = np.clip(np.floor(cols['maxlng'] + 180), 0, 359).astype(int)
        by0 = np.clip(np.floor(cols['minlat'] + 90), 0, 179).astype(int)
        by1 = np.clip(np.floor(cols['maxlat'] + 90), 0, 179).astype(int)
        bins, regs = [], []
        for r in range(len(self.region_ids)):
            yy, xx = np.meshgrid(np.arange(by0[r], by1[r] + 1),
                                 np.arange(bx0[r], bx1[r] + 1), indexing='ij')
            bins.append((yy * 360 + xx).ravel())
            regs.append(np.full(yy.size, r))
        bins, regs = np.concatenate(bins), np.concatenate(regs)
        order = np.argsort(bins, kind='stable')
        bins, regs = bins[order], regs[order]
        counts = np.bincount(bins, minlength=360 * 180)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
        keys, vals = [], []
        step = 1_000_000
        for lo in range(0, n, step):
            pid = np.arange(lo, min(n, lo + step), dtype=np.int64)
            strip = ((pid * synth.N_LAT_STRIPS) // n).astype(np.float64)
            frac = (((pid * sqlgen.LAT_MULT) % sqlgen.HASH_MOD)
                    / float(sqlgen.HASH_MOD))
            lat = -85.0 + ((strip + frac) / float(synth.N_LAT_STRIPS)) * 170.0
            lng = sqlgen.lng_np(pid)
            tx, ty = _tile_xy_np(lat, lng, self.FP)
            b = (np.clip(np.floor(lat + 90), 0, 179).astype(int) * 360
                 + np.clip(np.floor(lng + 180), 0, 359).astype(int))
            cnt = counts[b]
            page = np.repeat(np.arange(len(pid)), cnt)
            first = np.repeat(starts[b] - np.cumsum(cnt) + cnt, cnt)
            reg = regs[first + np.arange(len(page))]
            hit = ((lat[page] >= cols['minlat'][reg])
                   & (lat[page] <= cols['maxlat'][reg])
                   & (lng[page] >= cols['minlng'][reg])
                   & (lng[page] <= cols['maxlng'][reg]))
            page, reg = page[hit], reg[hit]
            gk = (self.region_ids[reg] * 131072 + ty[page] * 512 + tx[page])
            k, c = np.unique(gk, return_counts=True)
            keys.append(k)
            vals.append(c)
        k, inv = np.unique(np.concatenate(keys), return_inverse=True)
        c = np.bincount(inv, weights=np.concatenate(vals)).astype(np.int64)
        self.truth = {'rows': int(len(k)), 'pages': int(c.sum()),
                      'wsum': int(((k % 65521) * c).sum())}

    def iteration(self, spark, tr, log):
        cfg = self.cfg
        tx, ty = sqlgen.tile_xy_sql('lat', 'lng', self.FP)

        def run():
            pages = tr.call('synth', 'synthetic_pages', synth.synthetic_pages,
                            spark, cfg['pages'], partitions=cfg['parts'],
                            layout='clustered', use=('page_id', 'lat', 'lng'))
            pages = (pages.withColumn('tile_x', F.expr(tx))
                     .withColumn('tile_y', F.expr(ty)))
            regions = self._regions(spark)
            if tr.active:
                tr.call('spatial_join', 'assign_cell',
                        spatial_join.assign_cell, pages, RES,
                        use=('page_id', 'cell', 'tile_x', 'tile_y'))
                tr.call('spatial_join', 'cover_join', lambda: (
                    spatial_join.assign_cell(pages, RES).join(F.broadcast(
                        spatial_join.cover_cells_rect(regions, RES)), 'cell')),
                    use=('page_id', 'region_id'))
            joined = tr.call('spatial_join', 'pip_join_rect',
                             spatial_join.pip_join_rect, pages, regions, RES,
                             broadcast_cover=True,
                             use=('region_id', 'tile_x', 'tile_y'))
            counts = (joined.groupBy(F.expr(self.GK).alias('gk'))
                      .agg(F.count('*').alias('n')))
            if tr.active:
                # the same frame through the noop sink: append minus this
                # is the snapshot table's own commit cost
                with tr.span('snapshot_table', 'noop_write'):
                    materialize(counts)
            table = SnapshotTable(self.table_root)
            return tr.call('snapshot_table', 'append', table.append, counts,
                           observe={'rows': F.count(F.lit(1)),
                                    'pages': F.sum('n'),
                                    'wsum': F.sum(F.expr('(gk % 65521) * n'))})

        def check(manifest):
            self.last_bytes = manifest['bytes']
            got = {k: int(v) for k, v in manifest['metrics'].items()}
            return _diff('observed (groups, pages, checksum)', got, self.truth)

        log.op('flagship', run, check)

    def layer_metrics(self, spans):
        m = {}
        by = {s['name']: s for s in spans}
        dur = {k: s['end'] - s['start'] for k, s in by.items()}
        m['synth.gen_s'] = dur['synth.synthetic_pages']
        m['spatial_join.assign_s'] = dur['spatial_join.assign_cell']
        m['spatial_join.join_s'] = dur['spatial_join.pip_join_rect']
        cand = by['spatial_join.cover_join']['rows']
        match = by['spatial_join.pip_join_rect']['rows']
        m['spatial_join.candidates'] = cand
        m['spatial_join.matches'] = match
        m['spatial_join.refine_yield'] = match / cand if cand else 0.0
        m['snapshot_table.append_s'] = dur['snapshot_table.append']
        m['snapshot_table.commit_s'] = (dur['snapshot_table.append']
                                        - dur['snapshot_table.noop_write'])
        m['snapshot_table.bytes_written'] = self.last_bytes
        return m


class PolygonScan(Workload):
    name = 'polygon_scan'
    SEED_SALT = 2
    SIZES = {'full': dict(pages=100_000, parts=4, regions=200, queries=16,
                          k=10),
             'tiny': dict(pages=40_000, parts=2, regions=20, queries=4, k=5)}
    K_RING = 2

    def generate(self):
        cfg, rng = self.cfg, self._rng()
        off = int(rng.integers(0, 500_000))
        self.region_rows = _region_rows(
            np.arange(off, off + cfg['regions']), 'pentagon')
        self.queries = pd.DataFrame({
            'qid': np.arange(cfg['queries'], dtype=np.int64),
            'qlat': rng.uniform(-80.0, 80.0, cfg['queries']),
            'qlng': rng.uniform(-179.0, 179.0, cfg['queries'])})
        self.input_rows = cfg['pages']

    def _inputs(self):
        return ([r[0] for r in self.region_rows],
                self.queries.to_numpy().tolist())

    def prepare(self, spark, workdir):
        # crawl-order pages with every text column, written once per set-up
        self.table_root = _fresh_dir(os.path.join(workdir, 'pages'))
        SnapshotTable(self.table_root).append(synth.synthetic_pages(
            spark, self.cfg['pages'], partitions=self.cfg['parts'],
            layout='hash'))

    def compute_truth(self):
        ids = np.arange(self.cfg['pages'], dtype=np.int64)
        lat, lng = sqlgen.lat_np(ids), sqlgen.lng_np(ids)
        order = np.argsort(lat, kind='stable')
        lat_s, lng_s = lat[order], lng[order]
        counts = {}
        for rid, wkb, minlat, minlng, maxlat, maxlng in self.region_rows:
            lo = np.searchsorted(lat_s, minlat, 'left')
            hi = np.searchsorted(lat_s, maxlat, 'right')
            y, x = lat_s[lo:hi], lng_s[lo:hi]
            sel = (x >= minlng) & (x <= maxlng)
            n = int(geometry.points_in_wkb(x[sel], y[sel], bytes(wkb)).sum())
            if n:
                counts[rid] = n
        nearest = set()
        for qid, qlat, qlng in self.queries.itertuples(index=False):
            d2 = (lat - qlat) * (lat - qlat) + (lng - qlng) * (lng - qlng)
            kth = np.partition(d2, self.cfg['k'] - 1)[self.cfg['k'] - 1]
            near = np.flatnonzero(d2 <= kth)        # ties at the k-th kept
            top = near[np.lexsort((ids[near], d2[near]))][:self.cfg['k']]
            nearest.update((int(qid), int(ids[p]), rank + 1)
                           for rank, p in enumerate(top))
        self.truth = {'counts': counts, 'knn': nearest}

    def iteration(self, spark, tr, log):
        cfg = self.cfg
        state = {}

        def open_table():
            with tr.span('snapshot_table', 'read'):
                state['pages'] = SnapshotTable(self.table_root).read(spark)
            if tr.active:
                tr.call('snapshot_table', 'scan', lambda: state['pages'])
            return state['pages']

        def pip():
            pages = state['pages']
            polys = spark.createDataFrame(self.region_rows, REGION_SCHEMA)
            if tr.active:
                tr.call('spatial_join', 'assign_cell',
                        spatial_join.assign_cell, pages, RES,
                        use=('page_id', 'cell'))
                tr.call('spatial_join', 'cover_join', lambda: (
                    spatial_join.assign_cell(pages, RES).join(F.broadcast(
                        spatial_join.cover_cells_rect(polys, RES)), 'cell')),
                    use=('page_id', 'region_id'))
                # the bbox-only join: exactly the rows the UDF refines
                tr.call('spatial_join', 'bbox_join',
                        spatial_join.pip_join_rect, pages, polys, RES,
                        use=('page_id', 'region_id', 'wkb'))
            joined = tr.call('spatial_join', 'pip_join_wkb',
                             spatial_join.pip_join_wkb, pages, polys, RES,
                             use=('page_id', 'region_id'))
            return (joined.groupBy('region_id').count().collect())

        def knn_op():
            pages = state['pages'].select('page_id', 'lat', 'lng')
            queries = spark.createDataFrame(self.queries)
            if tr.active:
                tr.call('knn', 'ring_join', lambda: knn.ring_cells(
                    queries, RES, self.K_RING).join(
                        spatial_join.assign_cell(pages, RES), 'cell'),
                    use=('qid', 'page_id'))
            out = tr.call('knn', 'knn', knn.knn, pages, queries, cfg['k'],
                          RES, k_ring=self.K_RING)
            return out.select('qid', 'page_id', 'rnk').collect()

        log.op('snapshot_read', open_table,
               lambda df: None if 'lat' in df.columns else 'no lat column')
        if 'pages' not in state:
            return
        log.op('pip_join_wkb', pip, lambda rows: _diff(
            'per-region counts', {r[0]: r[1] for r in rows},
            self.truth['counts']))
        log.op('knn', knn_op, lambda rows: _diff(
            'knn (qid, page, rank)', {tuple(r) for r in rows},
            self.truth['knn']))

    def layer_metrics(self, spans):
        by = {s['name']: s for s in spans}
        dur = {k: s['end'] - s['start'] for k, s in by.items()}
        cand = by['spatial_join.cover_join']['rows']
        match = by['spatial_join.pip_join_wkb']['rows']
        return {
            'snapshot_table.open_s': dur['snapshot_table.read'],
            'snapshot_table.scan_s': dur['snapshot_table.scan'],
            'spatial_join.assign_s': dur['spatial_join.assign_cell'],
            'spatial_join.join_s': dur['spatial_join.pip_join_wkb'],
            'spatial_join.candidates': cand,
            'spatial_join.matches': match,
            'spatial_join.refine_yield': match / cand if cand else 0.0,
            'spatial_join.udf_rows': by['spatial_join.bbox_join']['rows'],
            'spatial_join.udf_s': (dur['spatial_join.pip_join_wkb']
                                   - dur['spatial_join.bbox_join']),
            'knn.s': dur['knn.knn'],
            'knn.candidates': by['knn.ring_join']['rows'],
        }


class RasterTiles(Workload):
    """Tile grid and zonal statistics over one region set. The region
    geometry is fixed and the seed offsets the region ids, so every seed
    burns the same pixels in the same tiles."""
    name = 'raster_tiles'
    SEED_SALT = 3
    SIZES = {'full': dict(w=1024, h=512, tile=128, regions=200),
             'tiny': dict(w=256, h=128, tile=64, regions=20)}
    GEOMETRY_IDS = 1000       # first region id whose geometry is used

    def __init__(self, seed, size='full'):
        super().__init__(seed, size)
        self.fp = Footprint(rsize=(self.cfg['w'], self.cfg['h']), **GLOBE)

    def generate(self):
        cfg, rng = self.cfg, self._rng()
        geo = np.arange(self.GEOMETRY_IDS, self.GEOMETRY_IDS + cfg['regions'])
        self.region_rows = _region_rows(
            geo, 'rect', int(rng.integers(1, 500_000)) - self.GEOMETRY_IDS)
        self.input_rows = cfg['w'] * cfg['h']

    def _inputs(self):
        return [r[0] for r in self.region_rows]

    def compute_truth(self):
        fp = self.fp
        wkbs = [bytes(r[1]) for r in self.region_rows]
        rows, cols = np.indices((fp.rsizey, fp.rsizex), dtype=np.int64)
        vals = (17 * cols + 31 * rows) % 97
        zonal = {}
        for rid, wkb in zip((r[0] for r in self.region_rows), wkbs):
            m = raster.burn_polygons(fp, [wkb])
            if m.any():
                v = vals[m]
                zonal[rid] = (int(m.sum()), int(v.sum()), int(v.min()),
                              int(v.max()))
        ts = self.cfg['tile']
        self.truth = {'tiles': (-(-fp.rsizex // ts)) * (-(-fp.rsizey // ts)),
                      'zonal': zonal}

    def iteration(self, spark, tr, log):
        fp, ts = self.fp, self.cfg['tile']
        log.op('tile_grid', lambda: tr.call(
            'raster_ops', 'tile_grid_df', raster_ops.tile_grid_df, spark, fp,
            ts).count(), lambda n: _diff('tiles', n, self.truth['tiles']))
        log.op('zonal_stats', lambda: tr.call(
            'raster_ops', 'zonal_stats', raster_ops.zonal_stats, spark, fp,
            spark.createDataFrame(self.region_rows, REGION_SCHEMA),
            tile_size=ts).collect(), lambda rows: _diff(
            'zonal stats', {r[0]: tuple(r[1:]) for r in rows},
            self.truth['zonal']))

    def layer_metrics(self, spans):
        dur = {s['name']: s['end'] - s['start'] for s in spans}
        return {f'raster_ops.{op}_s': dur[f'raster_ops.{name}']
                for op, name in (('tile_grid', 'tile_grid_df'),
                                 ('zonal_stats', 'zonal_stats'))}


class DedupCorpus(Workload):
    """A near-duplicate corpus: base docs, a truncated copy of each and an
    exact copy of every eighth, over a seeded vocabulary."""
    name = 'dedup'
    SEED_SALT = 4
    SIZES = {'full': dict(bases=200, vocab=20000, min_len=40, max_len=80,
                          cut=10, exact_every=8),
             'tiny': dict(bases=200, vocab=3000, min_len=30, max_len=50,
                          cut=8, exact_every=8)}
    TRUNC, EXACT = 1_000_000, 2_000_000    # id offsets of the copies

    def generate(self):
        cfg, rng = self.cfg, self._rng()
        lens = rng.integers(3, 9, cfg['vocab'])
        chars = rng.integers(ord('a'), ord('z') + 1, (cfg['vocab'], 8),
                             dtype=np.uint8)
        chars[np.arange(8) >= lens[:, None]] = 0     # NUL-padded to 8 bytes
        vocab = chars.view('S8').ravel().astype(str)
        base_ids = np.arange(cfg['bases'], dtype=np.int64)
        toks = [rng.integers(0, cfg['vocab'], n)
                for n in rng.integers(cfg['min_len'], cfg['max_len'] + 1,
                                      cfg['bases'])]
        self.tokens = {int(i): t for i, t in zip(base_ids, toks)}
        self.tokens.update({int(i) + self.TRUNC: t[:-cfg['cut']]
                            for i, t in zip(base_ids, toks)})
        self.tokens.update({int(i) + self.EXACT: t
                            for i, t in zip(base_ids, toks)
                            if i % cfg['exact_every'] == 0})
        self.docs = pd.DataFrame({
            'doc_id': np.fromiter(self.tokens, np.int64),
            'text': [' '.join(vocab[t]) for t in self.tokens.values()]})
        self.input_rows = len(self.docs)

    def _inputs(self):
        return self.docs.text.tolist()[:50]

    def compute_truth(self):
        bases = [i for i in self.tokens if i < self.TRUNC]
        exact = {i - self.EXACT for i in self.tokens if i >= self.EXACT}
        # every pair at Jaccard >= 0.6: base-trunc, and for an exact copy
        # also base-copy and trunc-copy
        near = {(b, b + self.TRUNC) for b in bases}
        near |= {(b, b + self.EXACT) for b in exact}
        near |= {(b + self.TRUNC, b + self.EXACT) for b in exact}
        self.truth = {'near': near}

    def iteration(self, spark, tr, log):
        docs = spark.createDataFrame(self.docs)

        def near():
            if tr.active:
                tr.call('dedup', 'lsh_candidate_pairs', lambda: (
                    dedup.lsh_candidate_pairs(dedup.minhash_signature(
                        dedup.shingle_ids(docs)))))
            return tr.call('dedup', 'near_dup_pairs', dedup.near_dup_pairs,
                           docs, threshold=0.6).select('id_a', 'id_b').collect()

        log.op('near_dup_pairs', near, lambda rows: _diff(
            'near-dup pairs', {(int(a), int(b)) for a, b in rows},
            self.truth['near']))

    def layer_metrics(self, spans):
        by = {s['name']: s for s in spans}
        cand = by['dedup.lsh_candidate_pairs']['rows']
        ver = by['dedup.near_dup_pairs']['rows']
        return {
            'dedup.near_dup_pairs_s': (by['dedup.near_dup_pairs']['end']
                                       - by['dedup.near_dup_pairs']['start']),
            'dedup.lsh_candidates': cand,
            'dedup.verified_pairs': ver,
            'dedup.verify_yield': ver / cand if cand else 0.0,
        }


class StarGraph(Workload):
    """Connected components above the small-graph cap, so the distributed
    star rounds run. The components are stars (one member linked to every
    other, as near-duplicate clusters are) over shuffled node ids. The
    shape is fixed and the seed only offsets the ids, which keeps their
    order: the rounds depend on the shape and the id order alone, so every
    seed runs the same rounds."""
    name = 'graph'
    SEED_SALT = 5
    SIZES = {'full': dict(nodes=18_000, cap=10_000),
             'tiny': dict(nodes=3000, cap=2000)}
    SHAPE_SEED = 7

    def generate(self):
        shape = np.random.default_rng(self.SHAPE_SEED)
        n = self.cfg['nodes']
        node = (shape.permutation(n).astype(np.int64)
                + int(self._rng().integers(0, 1 << 40)))
        comp = np.sort(shape.integers(0, n // 6, n))
        starts = np.flatnonzero(np.r_[True, comp[1:] != comp[:-1]])
        sizes = np.diff(np.r_[starts, n])
        hub = np.repeat(starts + (shape.random(len(starts))
                                  * sizes).astype(np.int64), sizes)
        leaf = np.flatnonzero(np.arange(n) != hub)
        self.edges = pd.DataFrame({'id_a': node[leaf],
                                   'id_b': node[hub[leaf]]})
        self.nodes = pd.DataFrame({'node': node})
        self.labels = pd.Series(node).groupby(comp).transform('min')
        self.labels.index = node
        self.input_rows = len(self.edges)

    def _inputs(self):
        return self.edges.to_numpy()[:50].tolist()

    def compute_truth(self):
        self.truth = {'cc': dict(zip(self.labels.index.tolist(),
                                     self.labels.tolist()))}

    def iteration(self, spark, tr, log):
        log.op('connected_components', lambda: tr.call(
            'graph', 'connected_components', graph.connected_components,
            spark.createDataFrame(self.nodes), spark.createDataFrame(self.edges),
            small_graph_edges=self.cfg['cap']).collect(),
            lambda rows: _diff('component labels',
                               {int(a): int(b) for a, b in rows},
                               self.truth['cc']))

    def layer_metrics(self, spans):
        span = next(s for s in spans
                    if s['name'] == 'graph.connected_components')
        return {'graph.connected_components_s': span['end'] - span['start'],
                'graph.edges': len(self.edges),
                'graph.edge_cap': self.cfg['cap']}


class Combined(Workload):
    """Workload made of parts run back to back in one iteration."""

    PARTS: tuple = ()
    WARMUPS = 1             # untimed iterations before the timed ones

    def __init__(self, seed, size='full'):
        self.parts = tuple(part(seed, size) for part in self.PARTS)

    def generate(self):
        for part in self.parts:
            part.generate()
        self.input_rows = sum(part.input_rows for part in self.parts)

    def prepare(self, spark, workdir):
        for part in self.parts:
            part.prepare(spark, workdir)

    def _inputs(self):
        return tuple(part._inputs() for part in self.parts)

    def compute_truth(self):
        for part in self.parts:
            part.compute_truth()

    def plant(self):
        self.parts[0].plant()

    def iteration(self, spark, tr, log):
        for part in self.parts:
            part.iteration(spark, tr, log)

    def layer_metrics(self, spans):
        return {k: v for part in self.parts
                for k, v in part.layer_metrics(spans).items()}


class FlagshipDedup(Combined):
    """All JVM: a Python-UDF change must leave it unchanged."""
    name = 'flagship_dedup'
    PARTS = (FlagshipJoin, DedupCorpus)
    # its second iteration still runs 15-20% faster than the first after
    # the cold one (JIT); polygon_raster_cc's second runs as fast as its third
    WARMUPS = 2


class PolygonRasterCC(Combined):
    """Python tile and geometry kernels behind Arrow UDFs, then the
    distributed connected components."""
    name = 'polygon_raster_cc'
    PARTS = (PolygonScan, RasterTiles, StarGraph)


WORKLOADS = {w.name: w for w in (FlagshipDedup, PolygonRasterCC)}
