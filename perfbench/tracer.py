"""Spans around the benchmark's calls into the engine's layers.

A workload iteration calls every engine function through ``tracer.call``.
The untraced tracer (:class:`NullTracer`) just calls through, so timed runs
carry no tracing cost. The traced tracer (:class:`Tracer`) opens one span per
call: name, start, end, parent span and trace id. Each span runs under its
own Spark job group; when the call returns a lazy DataFrame the span forces
it with a noop sink (row count taken by an Observation in the same pass),
selecting only the columns the workload reads next.
After the span closes, its jobs, stages, tasks, shuffle and spill bytes and
executor run time are read from the status store, which works with
``spark.ui.enabled=false``. Spans stay in memory until the run writes them.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

COUNTERS = ('jobs', 'stages', 'tasks', 'shuffle_bytes', 'spill_bytes',
            'executor_run_s')


class NullTracer:
    """Tracing off: every call goes straight to the engine."""

    active = False

    def call(self, layer, op, fn, *args, use=None, **kwargs):
        return fn(*args, **kwargs)

    @contextmanager
    def span(self, layer, op):
        yield {}


def materialize(df: DataFrame) -> int:
    """Run ``df`` to completion through the noop sink; return its rows."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias('rows')) \
        .write.format('noop').mode('overwrite').save()
    return int(obs.get['rows'])


class Tracer:
    """Tracing on: one span and one Spark job group per layer call."""

    active = True

    def __init__(self, spark, cores: int, trace_id: str):
        self.sc = spark.sparkContext
        self.cores = cores
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str, op: str):
        sid = f'{self.trace_id}.{next(self._ids)}'
        rec = {'trace_id': self.trace_id, 'span_id': sid,
               'parent': self._stack[-1]['span_id'] if self._stack else None,
               'layer': layer, 'name': f'{layer}.{op}',
               'start': time.time()}
        outer = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(sid, rec['name'])
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec['end'] = time.time()
            self._stack.pop()
            if outer is not None:
                self.sc.setJobGroup(outer['span_id'], outer['name'])
            else:
                self.sc.setLocalProperty('spark.jobGroup.id', None)
                self.sc.setLocalProperty('spark.job.description', None)
            rec.update(self._counters(sid))
            self.spans.append(rec)

    def call(self, layer, op, fn, *args, use=None, **kwargs):
        """Call ``fn`` in a span. A DataFrame result is forced with the
        columns ``use`` (the ones the workload reads next; all if None)."""
        with self.span(layer, op) as rec:
            out = fn(*args, **kwargs)
            if isinstance(out, DataFrame):
                rec['rows'] = materialize(out.select(*use) if use else out)
        return out

    def _counters(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # stage metrics reach the status store through the async listener
        # bus: drain it so the span's last stage is counted
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out['jobs'] += 1
            stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JError:
                continue
            if st.status().toString() == 'SKIPPED':
                continue
            out['stages'] += 1
            out['tasks'] += st.numCompleteTasks()
            out['shuffle_bytes'] += st.shuffleWriteBytes()
            out['spill_bytes'] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out['executor_run_s'] += st.executorRunTime() / 1000.0
        return out

    def layer_totals(self) -> dict:
        """Spark counters summed per layer, with busy_frac =
        executor run time / (span wall x cores). A job counts in the
        innermost span it ran in, so nested spans never double count."""
        per: dict[str, dict] = {}
        for rec in self.spans:
            agg = per.setdefault(rec['layer'], dict.fromkeys(COUNTERS, 0))
            agg.setdefault('wall_s', 0.0)
            for key in COUNTERS:
                agg[key] += rec[key]
            agg['wall_s'] += rec['end'] - rec['start']
        for agg in per.values():
            wall = agg.pop('wall_s')
            agg['busy_frac'] = (agg['executor_run_s'] / (wall * self.cores)
                                if wall > 0 else 0.0)
        return per
