"""Distributed connected components — alternating large-star / small-star.

The two-phase star algorithm (public: Kiveris et al., "Connected Components
in MapReduce and Beyond", SoCC'14 — also GraphFrames' default strategy)
converges in O(log² n) rounds of plain DataFrame joins and aggregations.
No graph state ever touches the driver (unlike a driver-side union-find,
which at web scale would pull millions of node tuples through one process);
every round shuffles the current edge set keyed by node id, so AQE handles
skewed hubs like any other hot key.

Used by ``dedup_clusters`` (near-duplicate pair graphs over a 10^12-page
crawl) and ``raster_ops.polygonize`` (border-run adjacency of tile masks —
a continent-scale component spans thousands of tiles).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(nodes: DataFrame, edges: DataFrame,
                         id_col: str = 'node',
                         max_iters: int = 25,
                         cache_registry: list | None = None,
                         extra_release: tuple = (),
                         small_graph_edges: int = 200_000) -> DataFrame:
    """nodes: one row per node (isolated nodes allowed). edges: undirected
    (id_a, id_b). Returns (id_col, comp) with comp = min node id of the
    component — the same canonical labeling a union-find would produce.

    Raises RuntimeError if the star graph has not stabilized within
    max_iters rounds (components would be silently under-merged otherwise);
    the bound is O(log² n), so 25 covers any graph this engine can hold.

    Composition (VERDICT r3 #2 — one reliable checkpoint per entry query):
    as the LAST operator of a query, pass upstream persisted intermediates
    via ``extra_release`` and this call's single reliable checkpoint
    releases them all. As an INTERMEDIATE stage, pass a ``cache_registry``
    list instead: the round blocks are appended to it, the labeling
    returns lazily (already materialized through the final round's
    localCheckpoint), and the DOWNSTREAM operator's one reliable
    checkpoint releases everything — round 3 wrote a file-backed
    checkpoint here AND another in the caller, the measured cause of the
    dedup_clusters regression.

    Small-graph fast path: after the deduped edge set materializes, its
    COUNT (one cached-scan scalar — never rows) decides the strategy. At
    or below ``small_graph_edges`` the edges are collected and resolved
    with a driver union-find, labels broadcast back — a bounded driver
    trip (≤ ~3 MB at the default cap) that replaces O(log² n) shuffle
    rounds whose per-job scheduling latency dominates small graphs.
    Above the cap nothing graph-sized ever touches the driver (the star
    rounds below). Both paths emit the identical min-member labeling
    (pinned by pytest).
    """
    from buzzard_spark.session import checkpoint_release

    # localCheckpoint (eager=False) after every round: persist alone does
    # NOT truncate the logical plan, so an iterative join would hand
    # Catalyst an exponentially deeper plan each round — analysis time
    # explodes long before the data does. Lazy checkpoints + a signature
    # action only every OTHER round: two rounds of star joins materialize
    # in a single job, halving the per-round job-scheduling latency that
    # dominated round-2's dedup_clusters / polygonize_components walls.
    # the INITIAL edge set materializes EAGERLY: each star round reads `e`
    # through several plan branches (the bidirectional union + the join
    # back), and with a lazy checkpoint those branches race — concurrently
    # recomputing the upstream plan 2-3× before the cache fills. Harmless
    # when the input is checkpoint files, ruinous when the caller composes
    # a full LSH pipeline underneath (cache_registry mode). One eager job
    # computes the upstream exactly once; later rounds read cached blocks
    # (cheap to race) and stay lazy so two rounds share one job.
    e = (edges
         .where(F.col('id_a') != F.col('id_b'))
         .select(F.greatest('id_a', 'id_b').alias('u'),
                 F.least('id_a', 'id_b').alias('v'))
         .distinct().localCheckpoint(eager=True))
    rounds = [e]

    # one cached limit-collect both DECIDES the strategy and DELIVERS the
    # rows (the bfs/sssp fast-path pattern): <= cap rows came back means
    # the whole edge set came back — replaces the separate count job +
    # collect job of the round-5 form
    small_rows = e.limit(small_graph_edges + 1).collect()
    if len(small_rows) <= small_graph_edges:
        parent: dict = {}

        def find(a):
            root = a
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(a, a) != a:
                parent[a], a = root, parent[a]
            return root

        for row in small_rows:
            ra, rb = find(row['u']), find(row['v'])
            if ra != rb:
                # union-by-min: the surviving root is the set's min id,
                # exactly the star rounds' canonical labeling
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        labels = [(n, find(n)) for n in parent]
        spark = nodes.sparkSession
        star = (spark.createDataFrame(labels, 'u long, comp long')
                if labels else
                spark.createDataFrame([], 'u long, comp long'))
        out = (nodes.select(F.col(id_col).alias('u'))
               .join(F.broadcast(star), 'u', 'left')
               .select(F.col('u').alias(id_col),
                       F.coalesce('comp', 'u').alias('comp')))
        if cache_registry is not None:
            cache_registry.append(e)
            return out
        from buzzard_spark.session import checkpoint_release as _cr
        return _cr(out, [e] + list(extra_release))

    def _round(e):
        # large-star: every neighbor larger than u links to min(N(u) ∪ {u});
        # emitted pairs are (larger, smaller) by construction
        bi = e.unionByName(
            e.select(F.col('v').alias('u'), F.col('u').alias('v')))
        lmins = (bi.groupBy('u').agg(F.min('v').alias('_mv'))
                 .select('u', F.least('_mv', F.col('u')).alias('m')))
        large = (bi.join(lmins, 'u')
                 .where(F.col('v') > F.col('u'))
                 .select(F.col('v').alias('u'), F.col('m').alias('v'))
                 .where(F.col('u') != F.col('v')))
        # small-star on the large-star output (edges already u > v):
        # all smaller neighbors (and u itself) link to the minimum neighbor
        smins = large.groupBy('u').agg(F.min('v').alias('m'))
        small = (large.join(smins, 'u')
                 .select(F.col('v').alias('u'), F.col('m').alias('v'))
                 .unionByName(smins.select('u', F.col('m').alias('v')))
                 .where(F.col('u') != F.col('v')))
        e_new = (small
                 .select(F.greatest('u', 'v').alias('u'),
                         F.least('u', 'v').alias('v'))
                 .distinct().localCheckpoint(eager=False))
        rounds.append(e_new)
        return e_new

    def _sig2(e_mid, e_new):
        # ONE action returns the signatures of two consecutive rounds: the
        # union materializes e_mid's lazy checkpoint once (e_new reads it
        # back), so convergence is still judged on CONSECUTIVE rounds (the
        # sound fixpoint criterion — no 2-cycle ambiguity) at half the jobs.
        # pmod keeps the checksum sum far from BIGINT overflow (ANSI mode).
        tagged = (e_mid.select(F.lit(0).alias('_r'), 'u', 'v')
                  .unionByName(e_new.select(F.lit(1).alias('_r'), 'u', 'v')))
        rows = {r['_r']: (r['n'], r['h']) for r in tagged.groupBy('_r').agg(
            F.count('*').alias('n'),
            F.sum(F.expr('pmod(xxhash64(u, v), 1000000007)')).alias('h')
        ).collect()}
        empty = (0, None)
        return rows.get(0, empty), rows.get(1, empty)

    converged = False
    done = 0
    while done < max_iters:
        e_mid = _round(e)
        e = _round(e_mid)
        done += 2
        s_mid, s_new = _sig2(e_mid, e)
        if s_new == s_mid:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f'connected_components did not converge in {max_iters} rounds')
    # converged star: every non-root node has exactly one edge to its root
    star = e.groupBy('u').agg(F.min('v').alias('comp'))
    out = (nodes.select(F.col(id_col).alias('u'))
           .join(star, 'u', 'left')
           .select(F.col('u').alias(id_col),
                   F.coalesce('comp', 'u').alias('comp')))
    if cache_registry is not None:
        cache_registry.extend(rounds)
        return out
    # materialize the labeling through a reliable (file-backed) checkpoint,
    # then drop every round's localCheckpoint blocks: iterative operators
    # must not leak cached partitions into a long-lived session
    return checkpoint_release(out, list(rounds) + list(extra_release))


def _pagerank_fast_collect(base_nodes: DataFrame, edges: DataFrame,
                           cap: int):
    """Shared small-graph probe for the exact-integer rank operators:
    returns (node values, [(src, dst)]) when BOTH the vertex and edge
    sets fit under ``cap`` (one limit-collect each — ≤ cap rows back
    means the whole set came back), else None."""
    if cap <= 0:
        return None
    nrows = base_nodes.limit(cap + 1).collect()
    if len(nrows) > cap:
        return None
    erows = edges.select('src', 'dst').limit(cap + 1).collect()
    if len(erows) > cap:
        return None
    return [r['v'] for r in nrows], [(r['src'], r['dst']) for r in erows]


def _seeds_fast_collect(seeds: DataFrame, cap: int):
    """Seed half of the small-graph probe: the distinct values of the
    seeds' first column when there are at most ``cap`` of them (one
    limit-collect), else None — the caller then takes its distributed
    path, so a huge seed set never lands on the driver."""
    rows = (seeds.select(F.col(seeds.columns[0]).alias('v')).distinct()
            .limit(cap + 1).collect())
    return [r['v'] for r in rows] if len(rows) <= cap else None


def pagerank_exact_uniform(nodes: DataFrame, edges: DataFrame,
                           iters: int = 3, d_out: int = 4,
                           id_col: str = 'v',
                           small_graph_edges: int = 200_000) -> DataFrame:
    """Damped PageRank (β = 0.85) over an out-degree-UNIFORM multigraph,
    computed in EXACT integer arithmetic so two engines agree bit-for-bit.

    With every node emitting exactly ``d_out`` out-edges (duplicates and
    self-loops allowed — they count as parallel edges), the classic
    recurrence  s_k(v) = (1-β) + β · Σ_{u→v} s_{k-1}(u) / d_out  with
    s_0 = 1 and β = 17/20 stays RATIONAL with denominator
    M^k = (20·d_out)^k.  Scaling A_k = M^k · s_k gives the pure-BIGINT
    recurrence this function iterates::

        A_0(v) = 1
        A_k(v) = 3·d_out·M^(k-1)  +  17 · Σ_{u→v} A_(k-1)(u)

    The returned score column ``pr_scaled`` IS A_iters — identical in any
    engine that can sum 64-bit integers, so the DuckDB oracle is an
    unrolled CTE chain with no float reassociation anywhere (the same
    integer-only-compare discipline as ``repetition_stats``).  Rankings
    equal float PageRank's exactly (pinned by pytest vs :func:`pagerank`).

    Scale: each iteration is one equi-join of the edge list with the
    score table on ``src`` plus one ``groupBy(dst)`` partial-aggregated
    sum — the textbook distributed PageRank step (shuffles on the edge
    key only, AQE handles hub skew like any hot key).  Nothing graph-
    sized touches the driver.  Overflow: A_k ≤ 12·M^(k-1) +
    17·max_in_deg·max(A_(k-1)); for hash-random near-regular graphs
    A_k ≈ M^k · O(1), BIGINT-safe for k ≤ 6 even at 10^12 nodes; the
    caller keeps ``iters`` small (rank stabilizes in a few rounds).
    """
    from buzzard_spark.session import checkpoint_release

    if d_out <= 0 or iters < 1:
        raise ValueError('d_out >= 1 and iters >= 1 required')
    M = 20 * d_out
    base_nodes = nodes.select(F.col(id_col).alias('v'))

    # Small-graph fast path (connected_components' design): two cached-
    # plan limit-collects decide and deliver; the identical BIGINT
    # recurrence runs as driver dict arithmetic — python ints ARE the
    # int64 values (overflow-free by the same k ≤ 6 contract), so the
    # scores are bit-identical to the distributed rounds (pinned by
    # pytest). Replaces iters × (join + agg + localCheckpoint) jobs.
    fast = _pagerank_fast_collect(base_nodes, edges, small_graph_edges)
    if fast is not None:
        node_vals, edge_rows = fast
        a = {v: 1 for v in node_vals}
        for k in range(1, iters + 1):
            base = 3 * d_out * M ** (k - 1)
            s: dict = {}
            for sv, dv in edge_rows:
                av = a.get(sv)
                if av is not None:
                    s[dv] = s.get(dv, 0) + av
            a = {v: base + 17 * s.get(v, 0) for v in node_vals}
        spark = nodes.sparkSession
        from pyspark.sql.types import LongType, StructField, StructType
        schema = StructType([
            StructField('v', base_nodes.schema[0].dataType),
            StructField('pr_scaled', LongType())])
        return spark.createDataFrame(list(a.items()), schema)

    scores = base_nodes.select('v', F.lit(1).cast('long').alias('a'))
    rounds = []
    for k in range(1, iters + 1):
        base = 3 * d_out * M ** (k - 1)
        contrib = (edges.join(scores, edges['src'] == scores['v'])
                   .groupBy('dst').agg(F.sum('a').alias('s')))
        # lazy local checkpoint per round: without it the logical plan
        # nests one join+agg deeper every iteration (the same blow-up
        # connected_components guards against)
        scores = (base_nodes
                  .join(contrib, base_nodes['v'] == contrib['dst'], 'left')
                  .select('v', (F.lit(base).cast('long')
                                + F.lit(17) * F.coalesce('s', F.lit(0)))
                          .cast('long').alias('a'))
                  .localCheckpoint(eager=False))
        rounds.append(scores)
    out = scores.select('v', F.col('a').alias('pr_scaled'))
    return checkpoint_release(out, rounds)


def pagerank(nodes: DataFrame, edges: DataFrame, iters: int = 10,
             damping: float = 0.85, id_col: str = 'v') -> DataFrame:
    """General damped PageRank over an arbitrary directed multigraph
    (float scores, mass-normalized to average 1.0) — the production
    variant; :func:`pagerank_exact_uniform` is its oracle-checkable twin
    on uniform-out-degree graphs (same ranking, pinned by pytest).

    Per iteration: out-degrees join (computed once, reused), contribution
    sum via ``groupBy(dst)``, and the standard dangling-mass
    redistribution — nodes with no out-edges donate their mass uniformly.
    The dangling sum is a ONE-ROW aggregate collected per iteration (a
    bounded driver scalar, never rows; GraphX does the same).
    """
    from buzzard_spark.session import checkpoint_release

    n = nodes.count()
    if n == 0:
        return nodes.select(F.col(id_col).alias('v'),
                            F.lit(0.0).alias('pr'))
    base_nodes = nodes.select(F.col(id_col).alias('v'))
    deg = edges.groupBy('src').agg(F.count('*').alias('out_deg'))
    ed = edges.join(deg, 'src')
    scores = base_nodes.select('v', F.lit(1.0).alias('a'))
    rounds = []
    for _ in range(iters):
        contrib = (ed.join(scores, ed['src'] == scores['v'])
                   .groupBy('dst')
                   .agg(F.sum(F.col('a') / F.col('out_deg')).alias('s')))
        dangling = (scores.join(deg, scores['v'] == deg['src'], 'left_anti')
                    .agg(F.sum('a')).collect()[0][0]) or 0.0
        scores = (base_nodes
                  .join(contrib, base_nodes['v'] == contrib['dst'], 'left')
                  .select('v', (F.lit(1.0 - damping)
                                + F.lit(damping)
                                * (F.coalesce('s', F.lit(0.0))
                                   + F.lit(dangling / n))).alias('a'))
                  .localCheckpoint(eager=False))
        rounds.append(scores)
    out = scores.select('v', F.col('a').alias('pr'))
    return checkpoint_release(out, rounds)


def triangle_count(edges: DataFrame, src: str = 'src',
                   dst: str = 'dst') -> DataFrame:
    """Global triangle count of the UNDIRECTED simple graph under the
    edge list — the clustering/community signal for a web link graph
    (spam farms show abnormal triangle density; the count also yields
    the global clustering coefficient against the wedge count).

    Scale shape (node-iterator with degree orientation — public: Suri &
    Vassilvitskii, "Counting Triangles and the Curse of the Last
    Reducer", WWW'11): edges are canonicalized (min, max) + DISTINCT,
    then each edge is ORIENTED from its lower-(degree, id) endpoint to
    the higher one, so every wedge is generated at its lowest-degree
    apex — the hub that would otherwise emit deg² wedges emits almost
    none, which is exactly the "last reducer" skew fix. Wedges
    equi-join back against the oriented edge set to close triangles;
    every step is a plain join/agg (AQE-skew-handled), nothing on the
    driver. Output: one row ``(n_triangles BIGINT, n_wedges BIGINT)``
    — n_wedges is the UNDIRECTED wedge count Σ d·(d−1)/2 (the global
    clustering coefficient's denominator is n_wedges, its numerator
    3·n_triangles); the triangle count is orientation-invariant, so the
    DuckDB oracle can use the naive a<b<c triple join.
    """
    e = (edges
         .select(F.least(src, dst).alias('a'),
                 F.greatest(src, dst).alias('b'))
         .where('a <> b').distinct())
    deg = (e.select(F.col('a').alias('v'))
            .unionAll(e.select(F.col('b').alias('v')))
            .groupBy('v').agg(F.count('*').alias('d')))
    # orient each edge low -> high by (degree, id); both endpoints'
    # degrees ride along via two broadcast-eligible joins on the
    # (already deduplicated) edge set
    da = deg.select(F.col('v').alias('a'), F.col('d').alias('da'))
    db = deg.select(F.col('v').alias('b'), F.col('d').alias('db'))
    o = (e.join(da, 'a').join(db, 'b')
          .select(
              F.when((F.col('da') < F.col('db'))
                     | ((F.col('da') == F.col('db'))
                        & (F.col('a') < F.col('b'))), F.col('a'))
               .otherwise(F.col('b')).alias('lo'),
              F.when((F.col('da') < F.col('db'))
                     | ((F.col('da') == F.col('db'))
                        & (F.col('a') < F.col('b'))), F.col('b'))
               .otherwise(F.col('a')).alias('hi')))
    # wedges generated only at the low-degree apex: (x -> y), (x -> z),
    # y < z — each triangle appears exactly once, at its (degree, id)-
    # minimal vertex
    o1 = o.select(F.col('lo').alias('x'), F.col('hi').alias('y'))
    o2 = o.select(F.col('lo').alias('x'), F.col('hi').alias('z'))
    wedges = o1.join(o2, 'x').where('y < z')
    # both orientations of each closing edge; unionAll matches columns
    # by POSITION, so the swapped branch lists hi FIRST (under 'y')
    closed = wedges.join(
        o.select(F.col('lo').alias('y'), F.col('hi').alias('z'))
         .unionAll(o.select(F.col('hi').alias('y'), F.col('lo').alias('z'))),
        ['y', 'z'])
    # undirected wedge count straight from the degree table (the
    # clustering-coefficient denominator) — exact integer aggregation
    return (closed.agg(F.count('*').alias('n_triangles'))
            .crossJoin(deg.agg(F.expr('sum(d * (d - 1) div 2)')
                               .alias('n_wedges'))))


def triangle_count_oracle_sql(edges_sql: str, src: str = 'src',
                              dst: str = 'dst') -> str:
    """DuckDB twin of :func:`triangle_count`: naive ordered triple join
    a < b < c over the canonical undirected edge set (orientation-
    invariant, so it needs no degree logic), wedge count via
    sum(d·(d-1)/2)."""
    return (
        f'WITH raw AS ({edges_sql}), '
        f'e AS (SELECT DISTINCT least({src}, {dst}) AS a, '
        f'greatest({src}, {dst}) AS b FROM raw '
        f'WHERE {src} <> {dst}), '
        'tri AS (SELECT COUNT(*) AS n FROM e e1 '
        'JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b '
        'JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b), '
        'deg AS (SELECT v, COUNT(*) AS d FROM '
        '(SELECT a AS v FROM e UNION ALL SELECT b AS v FROM e) '
        'GROUP BY v) '
        'SELECT CAST(tri.n AS BIGINT) AS n_triangles, '
        'CAST((SELECT SUM(d * (d - 1) // 2) FROM deg) AS BIGINT) '
        'AS n_wedges FROM tri')


def resolve_redirects(edges: DataFrame, src: str = 'src',
                      dst: str = 'dst',
                      max_iters: int = 25,
                      small_graph_edges: int = 200_000) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING (pointer jumping):
    ``edges`` is a functional graph — each ``src`` redirects to exactly
    one ``dst`` (the crawl's 301/302 map after canonicalization).
    Returns one row per src::

        (src, final, is_cycle)

    with ``final`` the chain's terminal URL (a node with no outgoing
    edge) and ``is_cycle`` true for sources whose chain NEVER terminates
    — they sit in a redirect loop or feed into one (their ``final`` is
    NULL; a crawler drops both cases).

    Each round substitutes every pointer by its pointer
    (``t(u) ← t(t(u))``), so chain lengths halve: a length-L chain
    resolves in ⌈log2 L⌉ rounds — 25 rounds cover chains of 33 million
    hops (real redirect chains are < 10). Cycle detection is exact and
    odd-length-safe: each pointer carries the count of ORIGINAL edges
    it compresses; a pointer that compresses more than |edges| hops has
    revisited a node (pigeonhole) and is flagged. Per round: ONE
    self-join on the pointer table + a lazy localCheckpoint to keep the
    iterative plan flat (the CC star-round discipline); the
    convergence probe is a LIMIT-1 count, never rows.

    Duplicate src rows (two different redirects recorded for one URL)
    violate the functional contract and raise.
    """
    from buzzard_spark.session import checkpoint_release
    t = (edges.select(F.col(src).alias('s'), F.col(dst).alias('d'))
         .withColumn('h', F.lit(1).cast('long'))
         .withColumn('cyc', F.lit(False))
         .localCheckpoint(eager=True))

    # Small-graph fast path (connected_components' design): one cached
    # limit-collect decides and delivers; at or below the cap the
    # redirect map is resolved with a memoized driver walk — identical
    # (final, is_cycle) labeling (duplicate-src validation included,
    # same error), none of the ~log L pointer-doubling rounds whose job
    # latency dominates small maps.
    probe = t.select('s', 'd').limit(small_graph_edges + 1).collect()
    if len(probe) <= small_graph_edges:
        from buzzard_spark.session import release_blocks
        d_map: dict = {}
        for row in probe:
            if row['s'] in d_map:
                raise ValueError(
                    'resolve_redirects: duplicate src rows — the '
                    'redirect map must be functional (one outgoing '
                    'edge per src); dedupe first')
            d_map[row['s']] = row['d']
        final: dict = {}
        on_path: set = set()
        for s0 in d_map:
            path = []
            cur = s0
            while True:
                if cur in final:
                    val = final[cur]
                    break
                if cur in on_path:          # revisited current walk → loop
                    val = None
                    break
                if cur not in d_map:        # terminal: no outgoing edge
                    val = cur
                    break
                on_path.add(cur)
                path.append(cur)
                cur = d_map[cur]
            for n in path:
                on_path.discard(n)
                final[n] = val
        spark = edges.sparkSession
        from pyspark.sql.types import BooleanType, StructField, StructType
        schema = StructType([
            StructField(src, t.schema['s'].dataType),
            StructField('final', t.schema['d'].dataType),
            StructField('is_cycle', BooleanType(), nullable=False)])
        out = spark.createDataFrame(
            [(s, final[s], final[s] is None) for s in d_map], schema)
        release_blocks([t])
        return out

    if t.groupBy('s').count().where('count > 1').limit(1).count():
        raise ValueError('resolve_redirects: duplicate src rows — the '
                         'redirect map must be functional (one outgoing '
                         'edge per src); dedupe first')
    n_edges = t.count()
    rounds = [t]
    for _ in range(max_iters):
        nxt = t.select(F.col('s').alias('_js'), F.col('d').alias('_jd'),
                       F.col('h').alias('_jh'),
                       F.col('cyc').alias('_jcyc'))
        t2 = (t.join(nxt, t.d == nxt._js, 'left')
              .select('s',
                      F.coalesce('_jd', 'd').alias('d'),
                      (F.col('h') + F.coalesce('_jh', F.lit(0)))
                      .alias('h'),
                      (F.col('cyc') | F.coalesce('_jcyc', F.lit(False))
                       | ((F.col('h') + F.coalesce('_jh', F.lit(0)))
                          > n_edges)).alias('cyc'),
                      F.col('_js').isNotNull().alias('_moved'))
              .localCheckpoint(eager=False))
        moved = t2.where('_moved AND NOT cyc').limit(1).count()
        t = t2.drop('_moved')
        # register the CHECKPOINTED frame itself: checkpoint_release can
        # only reach the LogicalRDD's blocks when it is the plan root
        # (a .drop() projection on top would hide it and leak the blocks)
        rounds.append(t2)
        if not moved:
            break
    else:
        raise RuntimeError(
            f'resolve_redirects: not converged in {max_iters} rounds')
    out = t.select(F.col('s').alias(src),
                   F.when(~F.col('cyc'), F.col('d')).alias('final'),
                   F.col('cyc').alias('is_cycle'))
    return checkpoint_release(out, rounds)


def bfs_hops(edges: DataFrame, seeds: DataFrame, max_hops: int,
             src: str = 'src', dst: str = 'dst',
             small_graph_edges: int = 200_000) -> DataFrame:
    """Minimum hop distance from a seed set over a directed edge list::

        (node, hop)   -- hop = length of the shortest directed path from
                      -- ANY seed; nodes unreachable within max_hops are
                      -- NOT emitted; seeds themselves are hop 0

    The crawl-frontier depth question ("how many link hops from the seed
    list is this page?") — the signal crawl schedulers budget by and
    quality pipelines use as a prior (seed-proximal pages are cleaner).

    Plan shape: textbook frontier BFS as DataFrame rounds — frontier ⋈
    edges → next frontier, anti-join against the visited set so each node
    is labeled exactly once at its FIRST (= minimum) hop. Each round is
    lazily localCheckpoint-ed (plan truncation, same contract as
    :func:`connected_components`); one count() per round detects the
    empty frontier and stops early. Cycles terminate for free — a cycle
    node is visited once and never re-enters the frontier.

    Scale shape (10^12 pages): each round shuffles ONLY the frontier keyed
    by node id — for web graphs the frontier peaks around hop 3-5 and the
    round count is the graph diameter (bounded by ``max_hops``), so the
    total work is O(E_reached), not O(E · rounds). Hub skew lands on the
    join key; AQE splits it like any hot key. The visited set rides along
    as (node, hop) — the output-sized object, never collected.
    """
    if max_hops < 0:
        raise ValueError(f'max_hops must be >= 0: {max_hops}')
    from buzzard_spark.session import checkpoint_release

    e = edges.select(F.col(src).alias('_s'), F.col(dst).alias('_d')) \
        .distinct().localCheckpoint(eager=True)

    # Small-graph fast path (same design, cap and rationale as
    # connected_components): ONE cached limit-collect both decides and
    # delivers the rows (≤ cap rows back means the WHOLE edge set came
    # back); at or below the cap — for the edges AND the distinct seeds —
    # the BFS runs as a driver dict walk, a bounded driver trip replacing
    # up to max_hops shuffle rounds whose per-job scheduling latency
    # dominates small graphs. Both paths emit the identical min-hop
    # labeling (pinned by pytest).
    probe = e.limit(small_graph_edges + 1).collect()
    seed_vals = (_seeds_fast_collect(seeds, small_graph_edges)
                 if len(probe) <= small_graph_edges else None)
    if seed_vals is not None:
        from buzzard_spark.session import release_blocks
        adj: dict = {}
        for row in probe:
            adj.setdefault(row['_s'], []).append(row['_d'])
        hop_of = {s: 0 for s in seed_vals}
        frontier = list(hop_of)
        for h in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in hop_of:
                        hop_of[v] = h
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        spark = edges.sparkSession
        from pyspark.sql.types import LongType, StructField, StructType
        schema = StructType([
            StructField('node', seeds.schema[0].dataType),
            StructField('hop', LongType())])
        out = spark.createDataFrame(
            [(n, h) for n, h in hop_of.items()], schema)
        release_blocks([e])
        return out
    del probe  # the distributed rounds read the cached edge set

    visited = (seeds.select(F.col(seeds.columns[0]).alias('node'))
               .distinct()
               .withColumn('hop', F.lit(0))
               .localCheckpoint(eager=True))
    rounds = [e, visited]
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier.node == e._s)
               .select(F.col('_d').alias('node')).distinct()
               .join(visited, 'node', 'left_anti')
               .withColumn('hop', F.lit(h))
               .localCheckpoint(eager=False))
        rounds.append(nxt)
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        rounds.append(visited)
        frontier = nxt
    out = visited.select('node', F.col('hop').cast('long').alias('hop'))
    # one reliable checkpoint releases every round's localCheckpoint
    # blocks (cache-lifetime contract, test_cache_hygiene)
    return checkpoint_release(out, rounds)


def bfs_hops_oracle_sql(edges_sql: str, seeds_sql: str, max_hops: int,
                        src: str = 'src', dst: str = 'dst') -> str:
    """DuckDB twin of :func:`bfs_hops`: recursive-CTE walk bounded at
    ``max_hops`` (UNION-distinct keeps cycle expansion finite), then
    MIN(hop) per reached node."""
    return (
        f'WITH RECURSIVE e AS ({edges_sql}), '
        f's AS ({seeds_sql}), '
        'walk(n, h) AS ('
        'SELECT DISTINCT s.node, 0 FROM s UNION '
        f'SELECT e.{dst}, walk.h + 1 FROM walk JOIN e '
        f'ON e.{src} = walk.n WHERE walk.h < {max_hops}) '
        'SELECT n AS node, CAST(MIN(h) AS BIGINT) AS hop '
        'FROM walk GROUP BY n'
    )


def sssp_hops(edges: DataFrame, seeds: DataFrame, max_hops: int,
              src: str = 'src', dst: str = 'dst',
              weight: str = 'w',
              small_graph_edges: int = 200_000) -> DataFrame:
    """Single-source(-set) shortest path over non-negative INTEGER edge
    weights, restricted to paths of at most ``max_hops`` edges::

        (node, dist)   -- min total weight over any directed path of
                       -- <= max_hops edges from ANY seed; unreachable
                       -- nodes are not emitted; seeds are dist 0

    The weighted twin of :func:`bfs_hops` — crawl-cost budgeting (edge
    weight = politeness delay / fetch cost) and cell-grid routing. The
    hop bound makes the answer well-defined and the work bounded on any
    graph (including cycles — non-negative weights mean a cycle never
    improves a distance, and the round count caps the exploration).

    Plan shape: Bellman-Ford as DataFrame rounds — each round relaxes
    every edge out of the CURRENT distance table (dist ⋈ edges →
    candidate dist+w), then folds candidates into the table with a
    groupBy-min. A round that improves nothing stops the loop early
    (one count() per round, the same action cadence as bfs_hops /
    connected_components); every round is lazily localCheckpoint-ed.
    Integer arithmetic only — the DuckDB recursive-CTE oracle matches
    hash-exact.

    Scale shape (10^12 pages): per round ONE shuffle keyed by node for
    the relax join and one for the min-fold; rounds ≤ max_hops. Only
    nodes whose distance improved this round re-enter the frontier (the
    ``improved`` set below), so settled subgraphs drop out of the relax
    join — the frontier shrinks the way delta-stepping's light bucket
    does, without its priority machinery.
    """
    if max_hops < 0:
        raise ValueError(f'max_hops must be >= 0: {max_hops}')
    from buzzard_spark.session import checkpoint_release

    e0 = edges.select(F.col(src).alias('_s'), F.col(dst).alias('_d'),
                      F.col(weight).cast('long').alias('_w'))
    e = e0.localCheckpoint(eager=True)

    # Small-graph fast path (connected_components' design): one cached
    # limit-collect decides and delivers; ≤ cap edges and ≤ cap distinct
    # seeds run the identical hop-bounded Bellman-Ford as a driver dict
    # relaxation — exact integer arithmetic, same min-dist labels (pinned
    # by pytest), none of the per-round job latency that dominates small
    # graphs.
    probe = e.limit(small_graph_edges + 1).collect()
    seed_vals = (_seeds_fast_collect(seeds, small_graph_edges)
                 if len(probe) <= small_graph_edges else None)
    if seed_vals is not None:
        from buzzard_spark.session import release_blocks
        adj: dict = {}
        for row in probe:
            if row['_w'] < 0:
                release_blocks([e])
                raise ValueError('negative edge weights are not supported')
            adj.setdefault(row['_s'], []).append((row['_d'], row['_w']))
        dist_of = {s: 0 for s in seed_vals}
        frontier = dict(dist_of)
        for _ in range(max_hops):
            improved: dict = {}
            for u, du in frontier.items():
                for v, w in adj.get(u, ()):
                    nd = du + w
                    old = improved.get(v)
                    if (old is None or nd < old) and \
                            nd < dist_of.get(v, nd + 1):
                        improved[v] = nd
            if not improved:
                break
            dist_of.update(improved)
            frontier = improved
        spark = edges.sparkSession
        from pyspark.sql.types import LongType, StructField, StructType
        schema = StructType([
            StructField('node', seeds.schema[0].dataType),
            StructField('dist', LongType())])
        out = spark.createDataFrame(
            [(n, d) for n, d in dist_of.items()], schema)
        release_blocks([e])
        return out
    del probe  # the distributed rounds read the cached edge set

    # distributed path: validate on the cached edge set, releasing the
    # blocks on the error path (the fast path validated row-by-row above)
    if e.where(F.col('_w') < 0).limit(1).count() > 0:
        from buzzard_spark.session import release_blocks
        release_blocks([e])
        raise ValueError('negative edge weights are not supported')
    dist = (seeds.select(F.col(seeds.columns[0]).alias('node'))
            .distinct()
            .withColumn('dist', F.lit(0).cast('long'))
            .localCheckpoint(eager=True))
    rounds = [e, dist]
    frontier = dist
    for _ in range(max_hops):
        cand = (frontier.join(e, frontier.node == e._s)
                .select(F.col('_d').alias('node'),
                        (F.col('dist') + F.col('_w')).alias('dist'))
                .groupBy('node').agg(F.min('dist').alias('dist')))
        merged = (dist.select('node', 'dist')
                  .unionByName(cand)
                  .groupBy('node').agg(F.min('dist').alias('dist'))
                  .localCheckpoint(eager=False))
        improved = (merged.join(dist.withColumnRenamed('dist', '_old'),
                                'node', 'left')
                    .where(F.col('_old').isNull() |
                           (F.col('dist') < F.col('_old')))
                    .select('node', 'dist')
                    .localCheckpoint(eager=False))
        rounds += [merged, improved]
        if improved.count() == 0:
            break
        dist, frontier = merged, improved
    out = dist.select('node', 'dist')
    # one reliable checkpoint releases every round's localCheckpoint
    # blocks (cache-lifetime contract, test_cache_hygiene)
    return checkpoint_release(out, rounds)


def sssp_hops_oracle_sql(edges_sql: str, seeds_sql: str, max_hops: int,
                         src: str = 'src', dst: str = 'dst',
                         weight: str = 'w') -> str:
    """DuckDB twin of :func:`sssp_hops`: bounded recursive-CTE walk
    carrying (node, dist, hops), then MIN(dist) per reached node.
    UNION-distinct keeps cycle expansion finite within the hop bound."""
    return (
        f'WITH RECURSIVE e AS ({edges_sql}), '
        f's AS ({seeds_sql}), '
        'walk(n, d, h) AS ('
        'SELECT DISTINCT s.node, CAST(0 AS BIGINT), 0 FROM s UNION '
        f'SELECT e.{dst}, walk.d + e.{weight}, walk.h + 1 '
        f'FROM walk JOIN e ON e.{src} = walk.n '
        f'WHERE walk.h < {max_hops}) '
        'SELECT n AS node, CAST(MIN(d) AS BIGINT) AS dist '
        'FROM walk GROUP BY n'
    )


def trustrank_exact_uniform(nodes: DataFrame, edges: DataFrame,
                            seeds: DataFrame, iters: int = 3,
                            d_out: int = 4, id_col: str = 'v',
                            small_graph_edges: int = 200_000) -> DataFrame:
    """Seed-personalized PageRank (TrustRank — Gyöngyi, Garcia-Molina &
    Pedersen, VLDB'04) over an out-degree-uniform multigraph, in the same
    EXACT integer arithmetic as :func:`pagerank_exact_uniform`::

        A_0(v) = t(v)
        A_k(v) = 3·d_out·M^(k-1)·t(v) + 17·Σ_{u→v} A_(k-1)(u)

    where ``t(v) = 1`` iff v is a seed (M = 20·d_out, β = 17/20). This is
    M^k times the classic recurrence s_k = (1−β)·t + β·Σ s/d_out with
    s_0 = t — the crawl-quality propagation signal: trust mass flows out
    of a hand-picked seed set along links, so pages only reachable from
    spam farms score 0 no matter their raw in-degree (the property plain
    PageRank lacks). ``tr_scaled`` = A_iters, bit-identical cross-engine;
    nodes unreachable from the seed set within ``iters`` hops are exact
    integer 0, not a float epsilon.

    Scale/overflow shape identical to :func:`pagerank_exact_uniform`
    (per-iteration equi-join + partial-agg sum; lazy localCheckpoint per
    round; nothing graph-sized on the driver).
    """
    from buzzard_spark.session import checkpoint_release

    if d_out <= 0 or iters < 1:
        raise ValueError('d_out >= 1 and iters >= 1 required')
    M = 20 * d_out

    # small-graph fast path — same scheme and bit-exactness argument as
    # pagerank_exact_uniform, with the seed flag folded into A_0 and the
    # per-round base term (pinned by pytest)
    base_nodes = nodes.select(F.col(id_col).alias('v'))
    fast = _pagerank_fast_collect(base_nodes, edges, small_graph_edges)
    if fast is not None:
        node_vals, edge_rows = fast
        seed_vals = _seeds_fast_collect(seeds, small_graph_edges)
        if seed_vals is not None:
            t = set(seed_vals)
            a = {v: (1 if v in t else 0) for v in node_vals}
            for k in range(1, iters + 1):
                base = 3 * d_out * M ** (k - 1)
                s: dict = {}
                for sv, dv in edge_rows:
                    av = a.get(sv)
                    if av:
                        s[dv] = s.get(dv, 0) + av
                a = {v: base * (1 if v in t else 0) + 17 * s.get(v, 0)
                     for v in node_vals}
            spark = nodes.sparkSession
            from pyspark.sql.types import LongType, StructField, StructType
            schema = StructType([
                StructField('v', base_nodes.schema[0].dataType),
                StructField('tr_scaled', LongType())])
            return spark.createDataFrame(list(a.items()), schema)

    flag = (nodes.select(F.col(id_col).alias('v'))
            .join(seeds.select(F.col(seeds.columns[0]).alias('v'))
                  .distinct().withColumn('_t', F.lit(1)),
                  'v', 'left')
            .select('v', F.coalesce('_t', F.lit(0)).cast('long')
                    .alias('t'))
            .localCheckpoint(eager=True))
    scores = flag.select('v', F.col('t').alias('a'))
    rounds = [flag]
    for k in range(1, iters + 1):
        base = 3 * d_out * M ** (k - 1)
        contrib = (edges.join(scores, edges['src'] == scores['v'])
                   .groupBy('dst').agg(F.sum('a').alias('s')))
        scores = (flag
                  .join(contrib, flag['v'] == contrib['dst'], 'left')
                  .select('v', (F.lit(base).cast('long') * F.col('t')
                                + F.lit(17) * F.coalesce('s', F.lit(0)))
                          .cast('long').alias('a'))
                  .localCheckpoint(eager=False))
        rounds.append(scores)
    out = scores.select('v', F.col('a').alias('tr_scaled'))
    return checkpoint_release(out, rounds)


def trustrank_oracle_sql(nodes_sql: str, edges_sql: str,
                         seed_pred: str, iters: int = 3,
                         d_out: int = 4) -> str:
    """DuckDB twin of :func:`trustrank_exact_uniform`: the rounds
    unrolled as CTE pairs. ``nodes_sql`` yields column ``v``;
    ``edges_sql`` yields (src, dst); ``seed_pred`` is a boolean SQL
    expression over ``v``."""
    M = 20 * d_out
    ctes = [f'nd AS ({nodes_sql})', f'e AS ({edges_sql})',
            f's0 AS (SELECT v, CAST(CASE WHEN {seed_pred} THEN 1 ELSE 0 '
            'END AS BIGINT) AS t, '
            f'CAST(CASE WHEN {seed_pred} THEN 1 ELSE 0 END AS BIGINT) '
            'AS a FROM nd)']
    for k in range(1, iters + 1):
        base = 3 * d_out * M ** (k - 1)
        ctes.append(f'c{k} AS (SELECT e.dst AS v, SUM(s.a) AS s FROM e '
                    f'JOIN s{k - 1} s ON s.v = e.src GROUP BY 1)')
        ctes.append(f's{k} AS (SELECT p.v, p.t, CAST({base} * p.t + 17 * '
                    f'COALESCE(c.s, 0) AS BIGINT) AS a '
                    f'FROM s{k - 1} p LEFT JOIN c{k} c USING (v))')
    return ('WITH ' + ', '.join(ctes) +
            f' SELECT v, a AS tr_scaled FROM s{iters}')
