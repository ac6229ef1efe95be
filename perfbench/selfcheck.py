"""Tiny-size self-check of the benchmark itself.

    python3 perfbench/run.py --selfcheck

For every workload, at tiny input sizes and one set-up per run:

- a timed run and a traced run print every metric BENCHMARK.json names;
- both runs check their outputs and find them correct;
- two seeds generate different inputs;
- a planted wrong expected value makes the run report a failure.

Exits 0 only if every check holds.
"""

from __future__ import annotations

import argparse
import json

from run import ROOT, WORKLOAD_NAMES, run_workload
from workloads import WORKLOADS


def selfcheck(args, settings, work) -> int:
    spec = json.loads((ROOT / 'BENCHMARK.json').read_text())
    want = {0: {m['name'] for m in spec['end_to_end']},
            1: {m['name'] for m in spec['per_layer']}}
    problems = []
    for name in WORKLOAD_NAMES:
        a, b = WORKLOADS[name](1, 'tiny'), WORKLOADS[name](2, 'tiny')
        a.generate()
        b.generate()
        if a.fingerprint() == b.fingerprint():
            problems.append(f'{name}: seeds 1 and 2 give the same inputs')
        for trace in (0, 1):
            run_args = argparse.Namespace(seed=args.seed, seconds=1.0,
                                          trace=trace)
            result, info = run_workload(name, run_args, settings, work,
                                        size='tiny', setups=1)
            missing = want[trace] - set(result['metrics'])
            if missing:
                problems.append(f'{name} trace={trace}: missing metrics '
                                f'{sorted(missing)}')
            if not result['correct'] or result['failed']:
                problems.append(f'{name} trace={trace}: failures '
                                f'{info["errors"]}')
        run_args = argparse.Namespace(seed=args.seed, seconds=1.0, trace=0)
        result, info = run_workload(name, run_args, settings, work,
                                    size='tiny', plant=True, setups=1)
        if result['failed'] == 0 or result['metrics']['ok_ratio']['value'] >= 1:
            problems.append(f'{name}: a planted wrong result went unnoticed')
        print(f'# selfcheck {name}: done', flush=True)
    for p in problems:
        print(f'# selfcheck problem: {p}', flush=True)
    print(json.dumps({'selfcheck': 'ok' if not problems else 'failed',
                      'problems': len(problems)}), flush=True)
    return 0 if not problems else 1
