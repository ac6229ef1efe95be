"""buzzard_spark benchmark: seeded workloads on local[nproc / 2].

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selfcheck

Run from the repository root (any checkout of it). One run:

1. pins its own Spark environment (printed): master local[nproc / 2]
   (the other cores run the driver, the JVM's compiler and collector
   threads and the Python workers, so no task waits for a core), a small
   driver heap, a private local dir and tmp dir under ``.perfbench-work/``
   (removed at exit) and PYTHONPATH at the repository root;
2. sets up ``SETUPS`` times (session start, warmup, seeded inputs and the
   workload's own Spark set-up) and reports the median as ``setup_s``;
3. computes the expected outputs once, outside every timed region;
4. runs the workload's ``WARMUPS`` untimed warm-up iterations (the first
   pass through every query pays its code generation and JIT compilation),
   then timed iterations for ``--seconds`` (at least one), checking every
   op's output and that no persisted RDD outlives an iteration.

With ``--trace 0`` the last stdout line is the end-to-end metrics, measured
with tracing off. With ``--trace 1`` the run then adds a traced iteration
(its wall minus the timed iterations' median is the tracing overhead),
prints every span as a ``# span`` line and ends with the per-layer metrics.
With ``--workload all`` each workload prints its line as soon as it ends.
Without the engine on the path (a directory holding only the benchmark) it
prints no result and exits with status 2.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SETUPS = 3
DRIVER_MEM = '3g'
WORKLOAD_NAMES = ('flagship_dedup', 'polygon_raster_cc')
LAYERS = ('session', 'synth', 'spatial_join', 'knn', 'snapshot_table',
          'raster_ops', 'dedup', 'graph')
# Spark counters reported per layer. Spill read zero on every workload, and
# so did shuffle in the layers listed in NO_SHUFFLE (broadcast joins), so
# those stay in the span file only.
COUNTER_UNITS = {'jobs': 'count', 'stages': 'count', 'tasks': 'count',
                 'shuffle_bytes': 'B', 'executor_run_s': 's',
                 'busy_frac': 'ratio'}
NO_SHUFFLE = ('synth', 'spatial_join')


def workload_why(name: str) -> str:
    """Why the workload was chosen, as BENCHMARK.json records it."""
    spec = ROOT / 'BENCHMARK.json'
    if not spec.exists():
        return ''
    return {w['name']: w['why'] for w in
            json.loads(spec.read_text())['workloads']}.get(name, '')


def task_slots() -> int:
    return max(1, len(os.sched_getaffinity(0)) // 2)


def pin_environment(work: Path) -> dict:
    """Environment of the engine for this run (set before the JVM starts)."""
    slots = task_slots()
    tmp = work / 'tmp'
    tmp.mkdir(parents=True, exist_ok=True)
    settings = {
        'master': f'local[{slots}]',
        'SPARK_GRAFT_CPUS': str(slots),
        'SPARK_GRAFT_DRIVER_MEM': DRIVER_MEM,
        'SPARK_GRAFT_LOCAL_DIR': str(work / 'spark-local'),
        # overrides spark.local.dir when set, so pin it to the same place
        'SPARK_LOCAL_DIRS': str(work / 'spark-local'),
        'PYTHONPATH': str(ROOT),
        'PYSPARK_PYTHON': sys.executable,
        'TMPDIR': str(tmp),
        'PYSPARK_SUBMIT_ARGS': (
            '--conf spark.ui.showConsoleProgress=false --driver-java-options '
            + shlex.quote(f'-Djava.io.tmpdir={tmp}') + ' pyspark-shell'),
    }
    os.environ.update({k: v for k, v in settings.items() if k != 'master'})
    return settings


class RssSampler(threading.Thread):
    """Peak resident memory of the driver JVM plus its descendants (the
    Python workers), sampled from /proc."""

    def __init__(self, pid: int, interval: float = 0.1):
        super().__init__(daemon=True)
        self.pid, self.interval = pid, interval
        self.peak = 0
        self.page = os.sysconf('SC_PAGE_SIZE')
        self._stop_evt = threading.Event()

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for entry in os.scandir('/proc'):
            if not entry.name.isdigit():
                continue
            try:
                with open(f'/proc/{entry.name}/stat') as f:
                    ppid = int(f.read().rsplit(')', 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry.name))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f'/proc/{pid}/statm') as f:
                    total += int(f.read().split()[1]) * self.page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self):
        while not self._stop_evt.wait(self.interval):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return self.peak / 2 ** 20


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(iters) -> float:
    """The slowest op call of an iteration, median over the iterations.
    A run has too few op calls for a percentile with 10 samples beyond it;
    this tail keeps one meaning whatever the number of iterations."""
    return median([max(op['s'] for op in it['ops']) for it in iters])


def start_session(settings):
    from buzzard_spark.session import get_session
    spark = get_session(master=settings['master'], app_name='perfbench')
    spark.sparkContext.setLogLevel('ERROR')
    return spark


def release_leaks(spark) -> int:
    """Persisted RDDs left after an iteration: count them, then drop them
    so the next iteration starts clean."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    n = rdds.size()
    if n:
        for rdd in list(rdds.values()):
            rdd.unpersist()
        spark.catalog.clearCache()
    return n


def set_up(wl, settings, work: Path, setups: int):
    """``setups`` full set-ups; the session of the last one stays open."""
    from buzzard_spark.session import warm_session
    runs = []
    spark = None
    for i in range(setups):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = start_session(settings)
        t1 = time.perf_counter()
        warm_session(spark)
        t2 = time.perf_counter()
        wl.generate()
        wl.prepare(spark, str(work / f'{wl.name}-{i}'))
        t3 = time.perf_counter()
        runs.append({'start_s': t1 - t0, 'warmup_s': t2 - t1,
                     'inputs_s': t3 - t2, 'total_s': t3 - t0})
    for i in range(setups - 1):
        shutil.rmtree(work / f'{wl.name}-{i}', ignore_errors=True)
    return spark, runs


def run_iterations(wl, spark, seconds: float, tracer):
    """Iterations for ``seconds``: at least one, and another only while
    one more of the same length still ends in time. Each starts after a
    garbage collection in both the driver JVM and Python, so no iteration
    pays for the garbage of the one before."""
    from workloads import OpLog
    iters = []
    start = time.perf_counter()
    while (not iters or time.perf_counter() - start + iters[-1]['wall_s']
           <= seconds):
        log = OpLog()
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        wl.iteration(spark, tracer, log)
        wall = time.perf_counter() - t0
        leaks = release_leaks(spark)
        iters.append({'wall_s': wall, 'ops': log.ops, 'leaked_rdds': leaks})
    return iters


def tally(iters):
    attempted = sum(len(it['ops']) for it in iters)
    failed = sum(not op['ok'] for it in iters for op in it['ops'])
    failed += sum(1 for it in iters if it['leaked_rdds'])
    errors = [f"{op['op']}: {op['error']}" for it in iters
              for op in it['ops'] if not op['ok']]
    errors += [f"{it['leaked_rdds']} persisted RDDs leaked" for it in iters
               if it['leaked_rdds']]
    return attempted, min(failed, attempted), errors


def per_layer_names():
    names = {}
    extra = {
        'session': [('start_s', 's'), ('warmup_s', 's'), ('cold_start_s', 's'),
                    ('peak_rss_mb', 'MB')],
        'synth': [('gen_s', 's')],
        'spatial_join': [('assign_s', 's'), ('join_s', 's'),
                         ('candidates', 'count'), ('matches', 'count'),
                         ('refine_yield', 'ratio'), ('udf_rows', 'count'),
                         ('udf_s', 's')],
        'knn': [('s', 's'), ('candidates', 'count')],
        'snapshot_table': [('append_s', 's'), ('commit_s', 's'),
                           ('bytes_written', 'B'), ('open_s', 's'),
                           ('scan_s', 's')],
        'raster_ops': [(f'{op}_s', 's') for op in (
            'tile_grid', 'zonal_stats')],
        'dedup': [('near_dup_pairs_s', 's'),
                  ('lsh_candidates', 'count'), ('verified_pairs', 'count'),
                  ('verify_yield', 'ratio')],
        'graph': [('connected_components_s', 's'), ('edges', 'count'),
                  ('edge_cap', 'count')],
    }
    for layer in LAYERS:
        for name, unit in extra[layer]:
            names[f'{layer}.{name}'] = unit
        for name, unit in COUNTER_UNITS.items():
            if not (name == 'shuffle_bytes' and layer in NO_SHUFFLE):
                names[f'{layer}.{name}'] = unit
    for name in ('overhead_s', 'traced_wall_s', 'untraced_wall_s'):
        names[f'trace.{name}'] = 's'
    names['trace.spans'] = 'count'
    return names


def run_workload(name, args, settings, work: Path, size='full', plant=False,
                 setups=SETUPS):
    """One workload end to end; returns (result dict, info dict)."""
    from tracer import NullTracer
    from workloads import WORKLOADS

    wl = WORKLOADS[name](args.seed, size)
    why = workload_why(name)
    print(f'# workload {name} seed={args.seed}: {why}', flush=True)
    spark, setup_runs = set_up(wl, settings, work, setups)
    t = time.perf_counter()
    wl.compute_truth()
    truth_s = time.perf_counter() - t
    if plant:
        wl.plant()
    # memory is sampled only when tracing: timed runs carry no sampler
    sampler = (RssSampler(spark.sparkContext._gateway.proc.pid)
               if args.trace else None)
    if sampler:
        sampler.start()
    warm = [it for _ in range(wl.WARMUPS)
            for it in run_iterations(wl, spark, 0, NullTracer())]
    iters = run_iterations(wl, spark, args.seconds, NullTracer())
    traced = []
    if sampler:
        traced, metrics = trace_run(wl, spark, setup_runs, sampler.stop(),
                                    median([it['wall_s'] for it in iters]))
    else:
        metrics = end_to_end(wl, iters, setup_runs)
    attempted, failed, errors = tally(warm + iters + traced)
    if not args.trace:
        metrics['ok_ratio'] = {'value': (attempted - failed) / attempted,
                               'unit': 'ratio'}
    spark.stop()
    ops = [op for it in iters for op in it['ops']]
    info = {'workload': name, 'seed': args.seed, 'why': why,
            'input_rows': wl.input_rows, 'truth_s': truth_s,
            'setups': setup_runs, 'fingerprint': wl.fingerprint(),
            'warmup_walls': [it['wall_s'] for it in warm],
            'walls': [it['wall_s'] for it in iters], 'op_samples': len(ops),
            'op_medians': {n: median([op['s'] for op in ops if op['op'] == n])
                           for n in sorted({op['op'] for op in ops})},
            'failed_ratio': failed / attempted, 'errors': errors[:10]}
    result = {'correct': failed == 0, 'attempted': attempted,
              'failed': failed, 'metrics': metrics}
    return result, info


def end_to_end(wl, iters, setup_runs) -> dict:
    wall = median([it['wall_s'] for it in iters])
    op_s = [op['s'] for it in iters for op in it['ops']]
    return {
        'setup_s': {'value': median([s['total_s'] for s in setup_runs]),
                    'unit': 's'},
        'wall_s': {'value': wall, 'unit': 's'},
        'pages_per_s': {'value': wl.input_rows / wall, 'unit': 'rows/s'},
        'op_s.p50': {'value': median(op_s), 'unit': 's'},
        'op_s.tail': {'value': tail(iters), 'unit': 's'},
    }


def trace_run(wl, spark, setup_runs, peak_rss, untraced):
    """A traced iteration after the timed ones (median wall ``untraced``),
    so their difference is the tracing overhead and not JIT warm-up.
    Returns the traced iteration and the per-layer metrics."""
    from buzzard_spark.session import warm_session
    from tracer import Tracer

    tracer = Tracer(spark, task_slots(), uuid.uuid4().hex[:8])
    tracer.call('session', 'warm_session', warm_session, spark)
    with tracer.span('iteration', wl.name):
        traced = run_iterations(wl, spark, 0, tracer)
    units = per_layer_names()
    values = dict.fromkeys(units, 0)
    values.update({
        'session.start_s': median([s['start_s'] for s in setup_runs]),
        'session.warmup_s': median([s['warmup_s'] for s in setup_runs]),
        'session.cold_start_s': setup_runs[0]['start_s'],
        'session.peak_rss_mb': peak_rss,
        'trace.traced_wall_s': traced[0]['wall_s'],
        'trace.untraced_wall_s': untraced,
        'trace.overhead_s': traced[0]['wall_s'] - untraced,
        'trace.spans': len(tracer.spans),
    })
    for layer, agg in tracer.layer_totals().items():
        values.update({f'{layer}.{key}': val for key, val in agg.items()})
    values.update(wl.layer_metrics(tracer.spans))
    for rec in tracer.spans:
        print('# span ' + json.dumps({'workload': wl.name, **rec}), flush=True)
    return traced, {k: {'value': values[k], 'unit': units[k]}
                    for k in units}


def stop_jvm():
    """Stop the session and the driver JVM this process launched, and
    wait for it (its Python workers exit with it)."""
    if 'pyspark' not in sys.modules:
        return
    from pyspark import SparkContext
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, 'proc', None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split('\n')[0])
    p.add_argument('--workload', choices=WORKLOAD_NAMES + ('all',),
                   default='all')
    p.add_argument('--seed', type=int, default=1)
    p.add_argument('--seconds', type=float, default=10.0)
    p.add_argument('--trace', type=int, choices=(0, 1), default=0)
    p.add_argument('--selfcheck', action='store_true',
                   help='tiny-size self-check of the benchmark itself')
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import buzzard_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f'perfbench: cannot import the engine: {exc}', file=sys.stderr)
        return 2
    work = ROOT / '.perfbench-work' / str(os.getpid())
    try:
        settings = pin_environment(work)
        print('# settings ' + json.dumps(settings), flush=True)
        if args.selfcheck:
            from selfcheck import selfcheck
            return selfcheck(args, settings, work)
        names = WORKLOAD_NAMES if args.workload == 'all' else (args.workload,)
        results = {}
        for name in names:
            result, info = run_workload(name, args, settings, work)
            print('# info ' + json.dumps(info, default=str), flush=True)
            results[name] = result
            if len(names) > 1:
                print(json.dumps({'workload': name, **result}), flush=True)
        if len(names) == 1:
            print(json.dumps(results[names[0]]), flush=True)
        else:
            print(json.dumps({
                'correct': all(r['correct'] for r in results.values()),
                'attempted': sum(r['attempted'] for r in results.values()),
                'failed': sum(r['failed'] for r in results.values()),
                'metrics': {f'{n}.{k}': v for n, r in results.items()
                            for k, v in r['metrics'].items()}}), flush=True)
        return 0
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        parent = work.parent
        if parent.exists() and not any(parent.iterdir()):
            parent.rmdir()


if __name__ == '__main__':
    sys.exit(main())
