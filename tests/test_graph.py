"""connected_components (large-star/small-star) vs a reference union-find."""

import numpy as np
import pytest

from buzzard_spark.operators import graph
from buzzard_spark.operators.graph import connected_components


def _truth(n_nodes, edges):
    parent = list(range(n_nodes))

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min member id per component
    comp = {}
    for i in range(n_nodes):
        comp.setdefault(find(i), []).append(i)
    return {i: min(members) for members in comp.values() for i in members}


def _run(spark, n_nodes, edges):
    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], 'node long')
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], 'id_a long, id_b long')
    got = {r['node']: r['comp']
           for r in connected_components(nodes, pairs).collect()}
    assert got == _truth(n_nodes, edges)


def test_cc_random_graphs(spark):
    rng = np.random.RandomState(7)
    for trial in range(3):
        n = 200
        m = [30, 150, 400][trial]
        edges = [(int(rng.randint(n)), int(rng.randint(n))) for _ in range(m)]
        _run(spark, n, edges)


def test_cc_long_chain(spark):
    """A path of 300 nodes — the worst case for plain min-propagation
    (O(diameter) rounds); the star algorithm must converge in O(log²)."""
    n = 300
    edges = [(i, i + 1) for i in range(n - 1)]
    _run(spark, n, edges)


def test_cc_isolated_and_self_loops(spark):
    _run(spark, 10, [(0, 0), (3, 4), (4, 3), (9, 9)])


def test_cc_empty_edges(spark):
    _run(spark, 5, [])


def test_cc_star_and_cliques(spark):
    edges = [(0, i) for i in range(1, 50)]                  # hub
    edges += [(a, b) for a in range(60, 70) for b in range(a + 1, 70)]
    _run(spark, 80, edges)


# -- PageRank ------------------------------------------------------------------

def _edges_df(spark, pairs):
    if not pairs:
        return spark.createDataFrame([], 'src long, dst long')
    return spark.createDataFrame([(int(a), int(b)) for a, b in pairs],
                                 'src long, dst long')


def _nodes_df(spark, n):
    return spark.range(n).selectExpr('id AS v')


def test_pagerank_exact_two_cycle(spark):
    """Symmetric 2-cycle, d_out=1: s_k = 1 forever, so A_k = M^k = 20^k."""
    from buzzard_spark.operators.graph import pagerank_exact_uniform
    out = pagerank_exact_uniform(
        _nodes_df(spark, 2), _edges_df(spark, [(0, 1), (1, 0)]),
        iters=3, d_out=1)
    got = {r['v']: r['pr_scaled'] for r in out.collect()}
    assert got == {0: 20 ** 3, 1: 20 ** 3}


def test_pagerank_exact_hand_computed_chain(spark):
    """0→1, 1→2, 2→1 (d_out=1, M=20): hand-unrolled recurrence."""
    from buzzard_spark.operators.graph import pagerank_exact_uniform
    edges = [(0, 1), (1, 2), (2, 1)]
    # A_0 = (1, 1, 1)
    # A_1 = (3, 3+17*(1+1), 3+17*1) = (3, 37, 20)
    # A_2 = (60, 60+17*(3+20), 60+17*37) = (60, 451, 689)
    # A_3 = (1200, 1200+17*(60+689), 1200+17*451)
    expect = {0: 1200, 1: 1200 + 17 * 749, 2: 1200 + 17 * 451}
    out = pagerank_exact_uniform(
        _nodes_df(spark, 3), _edges_df(spark, edges), iters=3, d_out=1)
    got = {r['v']: r['pr_scaled'] for r in out.collect()}
    assert got == expect


def test_pagerank_exact_mass_conservation_and_multigraph(spark):
    """Hash multigraph (dupes + self-loops kept): total mass Σ A_k must be
    exactly N · M^k when out-degree is uniform (PageRank conserves mass),
    and the float variant must produce the identical ranking."""
    import hashlib
    from pyspark.sql import functions as F
    from buzzard_spark.operators.graph import pagerank, pagerank_exact_uniform
    n, d = 120, 4
    pairs = []
    for v in range(n):
        for j in range(d):
            h = hashlib.md5(f'{v}:{j}:t'.encode()).hexdigest()
            pairs.append((v, int(h[:8], 16) % n))
    nodes, edges = _nodes_df(spark, n), _edges_df(spark, pairs)
    exact = pagerank_exact_uniform(nodes, edges, iters=3, d_out=d)
    rows = exact.collect()
    assert sum(r['pr_scaled'] for r in rows) == n * (20 * d) ** 3
    flt = pagerank(nodes, edges, iters=3)
    fr = {r['v']: r['pr'] for r in flt.collect()}
    M3 = float((20 * d) ** 3)
    for r in rows:   # float twin agrees to rounding on every node
        assert abs(fr[r['v']] - r['pr_scaled'] / M3) < 1e-9 * max(
            1.0, r['pr_scaled'] / M3)


def test_pagerank_float_dangling_mass_conserved(spark):
    """Node 2 has no out-edges: its mass redistributes uniformly; total
    mass stays N (average score 1.0)."""
    from buzzard_spark.operators.graph import pagerank
    out = pagerank(_nodes_df(spark, 3),
                   _edges_df(spark, [(0, 1), (1, 2)]), iters=8)
    total = sum(r['pr'] for r in out.collect())
    assert abs(total - 3.0) < 1e-9


def test_pagerank_exact_validates_args(spark):
    import pytest as _pytest
    from buzzard_spark.operators.graph import pagerank_exact_uniform
    with _pytest.raises(ValueError):
        pagerank_exact_uniform(_nodes_df(spark, 1),
                               _edges_df(spark, []), iters=0)
    with _pytest.raises(ValueError):
        pagerank_exact_uniform(_nodes_df(spark, 1),
                               _edges_df(spark, []), d_out=0)


def test_triangle_count_known_graph(spark):
    # K4 on {1,2,3,4}: 4 triangles, wedges = 4 * C(3,2) = 12; plus a
    # pendant 4-5 (adds wedges at 4: d=4 -> C(4,2)-C(3,2)=3 more) and a
    # self-loop + duplicate edge that must be ignored
    edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    edges += [(4, 5), (5, 4), (2, 1), (3, 3)]
    df = spark.createDataFrame(edges, 'src long, dst long')
    [r] = graph.triangle_count(df, 'src', 'dst').collect()
    assert r['n_triangles'] == 4
    # degrees: 1,2,3 -> 3; 4 -> 4; 5 -> 1  => 3*3 + 6 + 0 = 15
    assert r['n_wedges'] == 15


def test_triangle_count_matches_duckdb_oracle(spark):
    import duckdb
    rng_edges = [((i * i) % 23, (i * 3 + 1) % 23) for i in range(80)]
    df = spark.createDataFrame(rng_edges, 'src long, dst long')
    got = graph.triangle_count(df, 'src', 'dst').collect()[0]
    con = duckdb.connect()
    con.execute('CREATE TABLE edges_t (src BIGINT, dst BIGINT)')
    con.executemany('INSERT INTO edges_t VALUES (?, ?)', rng_edges)
    want = con.execute(graph.triangle_count_oracle_sql(
        'SELECT src, dst FROM edges_t')).fetchone()
    assert (got['n_triangles'], got['n_wedges']) == want


def test_resolve_redirects_chains_and_cycles(spark):
    """Chains resolve to terminals in log rounds; odd and even cycles
    plus chains FEEDING a cycle are flagged (final NULL); duplicate
    src raises."""
    from buzzard_spark.operators.graph import resolve_redirects
    edges = spark.createDataFrame(
        # chain 1->2->3->4 (4 terminal)
        [('u1', 'u2'), ('u2', 'u3'), ('u3', 'u4'),
         # odd 3-cycle
         ('c0', 'c1'), ('c1', 'c2'), ('c2', 'c0'),
         # even 2-cycle
         ('d0', 'd1'), ('d1', 'd0'),
         # feeder into the 3-cycle
         ('f', 'c0')],
        'src string, dst string')
    got = {r['src']: (r['final'], r['is_cycle'])
           for r in resolve_redirects(edges).collect()}
    assert got['u1'] == ('u4', False)
    assert got['u2'] == ('u4', False)
    assert got['u3'] == ('u4', False)
    for c in ('c0', 'c1', 'c2', 'd0', 'd1', 'f'):
        assert got[c] == (None, True), c

    import pytest as _pytest
    dup = spark.createDataFrame([('a', 'b'), ('a', 'c')],
                                'src string, dst string')
    with _pytest.raises(ValueError):
        resolve_redirects(dup)


def test_resolve_redirects_long_chain_log_rounds(spark):
    """A 300-hop chain resolves within the 25-round doubling bound
    (vs 300 sequential rounds) and no row is falsely cycle-flagged."""
    from buzzard_spark.operators.graph import resolve_redirects
    edges = spark.createDataFrame(
        [(f'n{i}', f'n{i + 1}') for i in range(300)],
        'src string, dst string')
    got = {r['src']: (r['final'], r['is_cycle'])
           for r in resolve_redirects(edges).collect()}
    assert all(v == ('n300', False) for v in got.values())


def test_bfs_hops_min_hop_cycles_and_cutoff(spark):
    """bfs_hops: shorter of two paths wins (diamond), seeds stay hop 0
    even when re-reachable, cycles terminate, unreachable nodes and
    nodes past max_hops are excluded; DuckDB recursive oracle agrees."""
    from buzzard_spark.operators.graph import bfs_hops, bfs_hops_oracle_sql
    edges = [
        ('a', 'b'), ('b', 'c'), ('c', 'd'),      # long path a->d (3)
        ('a', 'd'),                               # short path a->d (1)
        ('d', 'a'),                               # cycle back to the seed
        ('d', 'e'), ('e', 'f'), ('f', 'g'),       # tail past the cutoff
        ('x', 'y'),                               # unreachable island
    ]
    e = spark.createDataFrame(edges, 'src string, dst string')
    s = spark.createDataFrame([('a',)], 'node string')
    got = {r['node']: r['hop'] for r in bfs_hops(e, s, 3).collect()}
    assert got == {'a': 0, 'b': 1, 'd': 1, 'c': 2, 'e': 2, 'f': 3}
    # g is hop 4 -> cut; x, y unreachable -> absent

    import pytest as _pytest
    duckdb = _pytest.importorskip('duckdb')
    e_sql = ' UNION ALL '.join(f"SELECT '{a}' AS src, '{b}' AS dst"
                               for a, b in edges)
    want = {n: h for n, h in duckdb.connect().execute(
        bfs_hops_oracle_sql(e_sql, "SELECT 'a' AS node", 3)).fetchall()}
    assert got == want

    with _pytest.raises(ValueError):
        bfs_hops(e, s, -1)
    # max_hops = 0: seeds only
    assert {r['node']: r['hop'] for r in bfs_hops(e, s, 0).collect()} \
        == {'a': 0}


def test_sssp_hops_weighted_paths_and_bound(spark):
    """sssp_hops: a cheaper 3-hop path beats an expensive direct edge,
    the hop bound excludes it when too tight, cycles terminate, and the
    DuckDB recursive oracle agrees; negative weights rejected."""
    from buzzard_spark.operators.graph import sssp_hops, sssp_hops_oracle_sql
    edges = [
        ('a', 'z', 100),                       # direct but pricey
        ('a', 'b', 1), ('b', 'c', 1), ('c', 'z', 1),   # 3 hops, cost 3
        ('z', 'a', 1),                          # cycle back
        ('x', 'y', 1),                          # unreachable
    ]
    e = spark.createDataFrame(edges, 'src string, dst string, w long')
    s = spark.createDataFrame([('a',)], 'node string')

    got = {r['node']: r['dist'] for r in sssp_hops(e, s, 10).collect()}
    assert got == {'a': 0, 'b': 1, 'c': 2, 'z': 3}
    # with only 1 hop allowed, the pricey direct edge is the best z
    got1 = {r['node']: r['dist'] for r in sssp_hops(e, s, 1).collect()}
    assert got1 == {'a': 0, 'b': 1, 'z': 100}

    import pytest as _pytest
    duckdb = _pytest.importorskip('duckdb')
    e_sql = ' UNION ALL '.join(
        f"SELECT '{a}' AS src, '{b}' AS dst, CAST({w} AS BIGINT) AS w"
        for a, b, w in edges)
    for mh in (1, 10):
        want = {n: d for n, d in duckdb.connect().execute(
            sssp_hops_oracle_sql(e_sql, "SELECT 'a' AS node", mh))
            .fetchall()}
        assert {r['node']: r['dist']
                for r in sssp_hops(e, s, mh).collect()} == want

    neg = spark.createDataFrame([('a', 'b', -1)],
                                'src string, dst string, w long')
    with _pytest.raises(ValueError):
        sssp_hops(neg, s, 3)
    with _pytest.raises(ValueError):
        sssp_hops(e, s, -1)


def test_trustrank_seed_propagation_and_exact_zero(spark):
    """TrustRank on a hand-built uniform graph: scores match a python
    unroll of the scaled recurrence, pages unreachable from the seed set
    are EXACT integer zero, and with ALL nodes seeded it degenerates to
    pagerank_exact_uniform."""
    from buzzard_spark.operators.graph import (pagerank_exact_uniform,
                                               trustrank_exact_uniform)
    # 6 nodes, out-degree 2 each: a chain reachable from seed 0 and an
    # island (4, 5) only reachable from itself
    e = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 0), (3, 3), (3, 0),
         (4, 5), (4, 4), (5, 4), (5, 5)]
    nodes = spark.createDataFrame([(i,) for i in range(6)], 'v long')
    edges = spark.createDataFrame(e, 'src long, dst long')
    seeds = spark.createDataFrame([(0,)], 'v long')
    iters, d_out, M = 3, 2, 40
    got = {r['v']: r['tr_scaled'] for r in
           trustrank_exact_uniform(nodes, edges, seeds, iters, d_out)
           .collect()}

    t = {i: 1 if i == 0 else 0 for i in range(6)}
    a = dict(t)
    for k in range(1, iters + 1):
        base = 3 * d_out * M ** (k - 1)
        s = {i: 0 for i in range(6)}
        for u, v in e:
            s[v] += a[u]
        a = {i: base * t[i] + 17 * s[i] for i in range(6)}
    assert got == a
    assert got[4] == 0 and got[5] == 0          # exact zero island
    assert got[0] > 0 and got[3] > 0

    # all-seeded degenerates to plain exact pagerank
    all_seeds = nodes
    got_all = {r['v']: r['tr_scaled'] for r in
               trustrank_exact_uniform(nodes, edges, all_seeds,
                                       iters, d_out).collect()}
    pr = {r['v']: r['pr_scaled'] for r in
          pagerank_exact_uniform(nodes, edges, iters, d_out).collect()}
    assert got_all == pr

    import pytest as _pytest
    with _pytest.raises(ValueError):
        trustrank_exact_uniform(nodes, edges, seeds, 0, d_out)


def test_small_graph_fast_paths_match_distributed(spark):
    """The capped driver fast paths added in round 6 (bfs_hops /
    sssp_hops / resolve_redirects, the connected_components design) must
    emit exactly the distributed rounds' labeling: run every fixture
    through both paths (cap 200k = fast, cap 0 = distributed) and
    compare row sets."""
    from buzzard_spark.operators.graph import (bfs_hops, resolve_redirects,
                                               sssp_hops)
    edges = [
        ('a', 'b'), ('b', 'c'), ('c', 'd'), ('a', 'd'), ('d', 'a'),
        ('d', 'e'), ('e', 'f'), ('f', 'g'), ('x', 'y'),
    ]
    e = spark.createDataFrame(edges, 'src string, dst string')
    s = spark.createDataFrame([('a',), ('x',)], 'node string')
    for mh in (0, 2, 5):
        fast = {tuple(r) for r in bfs_hops(e, s, mh).collect()}
        dist = {tuple(r) for r in
                bfs_hops(e, s, mh, small_graph_edges=0).collect()}
        assert fast == dist, mh

    ew = [('a', 'z', 100), ('a', 'b', 1), ('b', 'c', 1), ('c', 'z', 1),
          ('z', 'a', 1), ('x', 'y', 7)]
    edf = spark.createDataFrame(ew, 'src string, dst string, w long')
    for mh in (1, 3, 10):
        fast = {tuple(r) for r in sssp_hops(edf, s, mh).collect()}
        dist = {tuple(r) for r in
                sssp_hops(edf, s, mh, small_graph_edges=0).collect()}
        assert fast == dist, mh

    red = spark.createDataFrame(
        [('u1', 'u2'), ('u2', 'u3'), ('u3', 'u4'),
         ('c0', 'c1'), ('c1', 'c2'), ('c2', 'c0'),
         ('d0', 'd1'), ('d1', 'd0'), ('f', 'c0')],
        'src string, dst string')
    fast = {tuple(r) for r in resolve_redirects(red).collect()}
    dist = {tuple(r) for r in
            resolve_redirects(red, small_graph_edges=0).collect()}
    assert fast == dist
    # schemas must agree too (names, types, nullability-insensitive)
    fr = resolve_redirects(red)
    dr = resolve_redirects(red, small_graph_edges=0)
    assert [(f.name, f.dataType) for f in fr.schema] == \
        [(f.name, f.dataType) for f in dr.schema]


def test_many_seeds_few_edges_take_distributed_path(spark, monkeypatch):
    """bfs_hops / sssp_hops bound the seed collect by the same cap as the
    edge probe: 40 distinct seeds over 6 edges with cap 10 must run the
    distributed rounds (the only path that ends in checkpoint_release)
    and give the same labels as the fast path (cap 200k) and the forced
    distributed path (cap 0)."""
    from buzzard_spark import session
    from buzzard_spark.operators.graph import bfs_hops, sssp_hops

    calls = []
    real = session.checkpoint_release

    def _counting(result, cached=()):
        calls.append(1)
        return real(result, cached)

    monkeypatch.setattr(session, 'checkpoint_release', _counting)
    ew = [(0, 1, 3), (1, 2, 1), (2, 3, 1), (0, 3, 9), (3, 50, 2),
          (50, 51, 4)]
    e = spark.createDataFrame(ew, 'src long, dst long, w long')
    # duplicates: the cap applies to DISTINCT seeds
    s = spark.createDataFrame([(i % 40,) for i in range(80)], 'node long')
    for op in (bfs_hops, sssp_hops):
        fast = {tuple(r) for r in op(e, s, 4).collect()}
        assert not calls, op.__name__
        capped = {tuple(r) for r in
                  op(e, s, 4, small_graph_edges=10).collect()}
        assert len(calls) == 1, op.__name__
        dist = {tuple(r) for r in
                op(e, s, 4, small_graph_edges=0).collect()}
        assert capped == fast == dist, op.__name__
        calls.clear()


def test_rank_fast_paths_match_distributed(spark):
    """pagerank_exact_uniform / trustrank_exact_uniform fast paths emit
    the distributed rounds' exact BIGINT scores (cap 200k vs cap 0)."""
    from buzzard_spark.operators.graph import (pagerank_exact_uniform,
                                               trustrank_exact_uniform)
    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], 'v long')
    edges = spark.createDataFrame(
        [(i, (i * 7 + j * 13 + 1) % n) for i in range(n) for j in range(4)],
        'src long, dst long')
    seeds = spark.createDataFrame([(i,) for i in range(0, n, 5)], 'v long')
    for iters in (1, 3):
        fast = {tuple(r) for r in
                pagerank_exact_uniform(nodes, edges, iters=iters).collect()}
        dist = {tuple(r) for r in
                pagerank_exact_uniform(nodes, edges, iters=iters,
                                       small_graph_edges=0).collect()}
        assert fast == dist, iters
        tfast = {tuple(r) for r in
                 trustrank_exact_uniform(nodes, edges, seeds,
                                         iters=iters).collect()}
        tdist = {tuple(r) for r in
                 trustrank_exact_uniform(nodes, edges, seeds, iters=iters,
                                         small_graph_edges=0).collect()}
        assert tfast == tdist, iters
