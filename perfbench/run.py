#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload slo_report --seed 1 --seconds 1 --trace 0

Run it from the repository root. The first run builds the library and
the benchmark's JVM side with sbt (perfbench/jvm, which depends on the
root build) into the build dirs and `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run generates its inputs
from the seed (perfbench/gen.py), runs the JVM side in a fresh work dir,
checks every output it produced (DuckDB oracle, non-empty results,
ingest state against a one-shot rebuild), prints every metric with its
unit, and ends with one JSON line. `--trace 1` reports the per-layer
metrics instead and keeps its spans under `.bench_build/traces/`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402

WORKLOADS = json.load(open(os.path.join(HERE, 'workloads.json')))
SPEC = json.load(open(os.path.join(os.path.dirname(HERE), 'BENCHMARK.json')))
BUILD_INPUTS = ['build.sbt', 'project/build.properties', 'project/*.sbt', 'project/*.scala',
                'src/main/**/*', 'perfbench/jvm/build.sbt',
                'perfbench/jvm/project/build.properties', 'perfbench/jvm/src/**/*']
ADD_OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke', 'java.base/java.lang.reflect',
             'java.base/java.io', 'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
             'java.base/java.util.concurrent', 'java.base/java.util.concurrent.atomic',
             'java.base/sun.nio.ch', 'java.base/sun.nio.cs', 'java.base/sun.security.action',
             'java.base/sun.util.calendar']
# a run must end within 180 s (a first run may also build)
RUN_LIMIT_S = 165


def log(msg):
    print(f'[perfbench] {msg}', file=sys.stderr, flush=True)


def require_checkout(root):
    missing = [p for p in ('build.sbt', 'src/main/scala/graft/SparkEntry.scala', 'tools/gen_sf.py')
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        log(f'not a graft checkout (missing {", ".join(missing)}); run from the repository root')
        sys.exit(2)


def source_stamp(root):
    h = hashlib.sha256()
    for pattern in BUILD_INPUTS:
        for p in sorted(glob.glob(os.path.join(root, pattern), recursive=True)):
            if os.path.isfile(p):
                h.update(os.path.relpath(p, root).encode())
                with open(p, 'rb') as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(root, state):
    """Compile with sbt once per source state; returns the classpath."""
    stamp = source_stamp(root)
    cp_file = os.path.join(state, 'classpath.txt')
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved_stamp, cp = f.read().split('\n', 1)
        if saved_stamp == stamp:
            return cp.strip()
    log('building (first run in this checkout) ...')
    t0 = time.time()
    env = dict(os.environ)
    env['SBT_OPTS'] = (env.get('SBT_OPTS', '') + ' -Dsbt.server.autostart=false').strip()
    with open(os.path.join(state, 'build.log'), 'w') as logf:
        proc = subprocess.run(
            ['sbt', '--batch', '-Dsbt.log.noformat=true', 'compile', 'export Runtime/fullClasspath'],
            cwd=os.path.join(root, 'perfbench', 'jvm'), stdout=subprocess.PIPE,
            stderr=logf, text=True, env=env, timeout=850)
        logf.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith('/') and '.jar' in ln]
    if proc.returncode != 0 or not lines:
        log(f'build failed (exit {proc.returncode}); see {state}/build.log')
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, 'w') as f:
        f.write(stamp + '\n' + cp + '\n')
    log(f'built in {time.time() - t0:.1f} s')
    return cp


def heap():
    """The tier-1 heap: half of RAM in whole GiB, clamped to [2, 8]."""
    kb = 0
    with open('/proc/meminfo') as f:
        for line in f:
            if line.startswith('MemTotal:'):
                kb = int(line.split()[1])
    return f'{min(8, max(2, kb // 2097152))}g'


def run_jvm(cp, args, work, deadline):
    cmd = (['java', f'-Xmx{heap()}', f'-Djava.io.tmpdir={work}/tmp', '-Dspark.ui.enabled=false']
           + [x for p in ADD_OPENS for x in ('--add-opens', f'{p}=ALL-UNNAMED')]
           + ['-cp', cp, 'perfbench.Runner'] + args)
    os.makedirs(f'{work}/tmp', exist_ok=True)
    with open(f'{work}/jvm.out', 'w') as out, open(f'{work}/jvm.err', 'w') as err:
        proc = subprocess.Popen(cmd, stdout=out, stderr=err)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            log('JVM side exceeded the run limit')
            sys.exit(4)
    with open(f'{work}/jvm.err') as f:
        err_text = f.read()
    if rc != 0:
        log(f'JVM side failed (exit {rc}):\n{err_text[-3000:]}')
        sys.exit(5)
    for line in err_text.splitlines():
        if line.startswith('[runner'):
            print(line, file=sys.stderr)


def fmt(v):
    return f'{v:.6g}' if isinstance(v, float) else str(v)


def main(argv=None):
    ap = argparse.ArgumentParser(description='graft benchmark: one workload, one seed')
    ap.add_argument('--workload', required=True, choices=sorted(WORKLOADS))
    ap.add_argument('--seed', type=int, required=True)
    ap.add_argument('--seconds', type=float, required=True)
    ap.add_argument('--trace', type=int, choices=(0, 1), default=0)
    ap.add_argument('--keep', action='store_true', help='keep the run dir (inputs, results)')
    a = ap.parse_args(argv)
    root = os.getcwd()
    require_checkout(root)
    state = os.path.join(root, '.bench_build')
    os.makedirs(state, exist_ok=True)
    cp = build(root, state)

    w = WORKLOADS[a.workload]
    work = os.path.join(state, 'runs', f'{a.workload}-{a.seed}-{os.getpid()}')
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    deadline = time.time() + RUN_LIMIT_S
    try:
        t0 = time.time()
        gen_args = [os.path.join(work, 'data'), str(w['sf']), str(a.seed)]
        if a.workload == 'slo_ingest':
            gen_args += ['--batches', str(w['batches'])]
        import gen
        gen.main(gen_args)
        log(f'inputs generated in {time.time() - t0:.1f} s')
        data = os.path.join(work, 'data')
        args = ['--workload', a.workload, '--corpus', f'{data}/corpus',
                '--out', f'{work}/out', '--work', f'{work}/jvm', '--seconds', str(a.seconds),
                '--trace', str(a.trace), '--seed', str(a.seed),
                '--cpus', str(len(os.sched_getaffinity(0))),
                '--stores', ','.join(w['stores']),
                '--ops', ','.join(w.get('ops', []))]
        if a.workload == 'slo_ingest':
            args += ['--batches', f'{data}/batches']
        run_jvm(cp, args, work, deadline)
        with open(f'{work}/out/result.json') as f:
            res = json.load(f)
        verdicts = checks.run(res['checks'], f'{work}/out/results')
        failures = [f'{k}: {v}' for k, v in res['failures']]
        failures += [f'check:{name}: {why}' for name, why in verdicts if why]
        failed_ops = len(set(f.split(': ')[0] for f in failures))
        attempted = res['attempted'] + len(verdicts)
        if a.trace:
            keep = os.path.join(state, 'traces', f'{a.workload}-{a.seed}')
            shutil.rmtree(keep, ignore_errors=True)
            os.makedirs(keep)
            for name in ('result.json', 'spans.jsonl', 'jobs.jsonl'):
                if os.path.exists(f'{work}/out/{name}'):
                    shutil.copy(f'{work}/out/{name}', keep)
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)

    s = res['samples']
    print(f'workload {a.workload} seed {a.seed}: {res["passes"]} timed pass(es), '
          f'{s["ops"]} operations, {s["reads"]} reads, tail = p{s["tail_pct"]}')
    for k, m in res['end_to_end'].items():
        print(f'  {k:<14} {fmt(m["value"]):>12} {m["unit"]}')
    print(f'  {"error_rate":<14} {fmt(failed_ops / max(1, attempted)):>12} fraction '
          f'({failed_ops} failed of {attempted} attempted)')
    print(f'output check: {len(verdicts) - sum(1 for _, why in verdicts if why)}/{len(verdicts)} pass')
    for f in failures:
        print(f'  FAILED {f}')
    if a.trace:
        table = [f'{k}\t{fmt(m["value"])}\t{m["unit"]}' for k, m in res['per_layer'].items()]
        with open(os.path.join(keep, 'layers.tsv'), 'w') as f:
            f.write('metric\tvalue\tunit\n' + '\n'.join(table) + '\n')
        print(f'per-layer metrics (traced passes: {res["traced_passes"]}; spans, jobs and '
              f'this table in {keep}):')
        for k, m in res['per_layer'].items():
            print(f'  {k:<40} {fmt(m["value"]):>14} {m["unit"]}')
    wanted = [m['name'] for m in SPEC['per_layer' if a.trace else 'end_to_end']]
    source = {**res['end_to_end'], **res['per_layer']}
    metrics = {k: {'value': source[k]['value'], 'unit': source[k]['unit']} for k in wanted}
    print(json.dumps({'correct': failed_ops == 0, 'attempted': attempted,
                      'failed': failed_ops, 'metrics': metrics}))


if __name__ == '__main__':
    main()
