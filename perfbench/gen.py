#!/usr/bin/env python3
"""Seeded inputs for the benchmark.

Every table comes from the repository's own generator (tools/gen_sf.py,
imported, not copied): its distributions, with its fixed random seed
replaced by the workload seed. `slo_ingest` batches are further gen_sf
rows, re-keyed past the base corpus and moved onto the batch's day.

    python3 perfbench/gen.py <out_dir> <sf> <seed> [--batches N]

writes <out_dir>/corpus (scale factor <sf>), and with --batches also
<out_dir>/batches (see write_batches).
"""
import argparse
import contextlib
import datetime as dt
import io
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, 'tools'))
import gen_sf  # noqa: E402

DAY_NS = 86_400 * 10**9
# The batch traffic below is assumed, not measured: no traffic sample of
# the reference updater exists to take shares from. Each part is there
# because an output check needs it (perfbench/README.md).
# Late events make a batch touch two days, so the rebuild check covers
# multi-day refresh; re-sent keys with corrected values make the upsert
# replace rows, so the rebuild check covers correction.
LATE_SHARE = 0.10     # new events on the previous day
RESEND_SHARE = 0.05   # re-sent keys of the previous day, corrected value
# One incident per ingest day, so the alert stream raises alerts and its
# comparison with the batch twin is not empty: for INCIDENT_HOURS from a
# seeded hour, one seeded event type reports value + 150.
INCIDENT_HOURS = 8
# gen_sf spreads events over 2024-01-01..2024-01-30 (30 days); batches
# continue the calendar from the day after.
BASE_DAYS = 30
FIRST_DAY = dt.date(2024, 1, 31)
# Dependent reads after each batch: the maintained report and the
# sketch rollup.
READS = 'slo_report_maintained,sketch_rollup'


def generate(sf, out, seed):
    """gen_sf.main(sf, out) with the workload seed; its progress lines are dropped."""
    real = np.random.default_rng
    np.random.default_rng = lambda _fixed=None: real(seed)
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_sf.main(sf, out)
    finally:
        np.random.default_rng = real


def day_ns(day):
    return int(np.datetime64(day.isoformat(), 'ns').astype('int64'))


def incident(events, day, rng):
    """`events` with one day's incident: see INCIDENT_HOURS."""
    kind = gen_sf.EVENT_TYPES[rng.integers(0, len(gen_sf.EVENT_TYPES))]
    start = day_ns(day) + int(rng.integers(0, 24 - INCIDENT_HOURS)) * 3600 * 10**9
    ts = events['ts'].cast(pa.int64()).to_numpy()
    hit = (ts >= start) & (ts < start + INCIDENT_HOURS * 3600 * 10**9) & \
        (events['event_type'].to_numpy(zero_copy_only=False) == kind)
    value = events['value'].to_numpy()
    return events.set_column(events.schema.get_field_index('value'), 'value',
                             pa.array(np.where(hit, np.round(value + 150.0, 2), value)))


def write_batches(base, out, sf, seed, n_batches):
    """n_batches batches over `base`, one day each. Batch i's current day
    is FIRST_DAY + i; it holds one base day's worth of new events (a
    LATE_SHARE of them on the previous day), RESEND_SHARE re-sent keys of
    the previous day with corrected values.
    """
    os.makedirs(out, exist_ok=True)
    pool_dir = os.path.join(out, '_pool')
    generate(sf * n_batches / BASE_DAYS, pool_dir, seed + 7919)
    rng = np.random.default_rng(seed + 104729)
    ev = pq.read_table(f'{pool_dir}/events.parquet')
    base_ev = pq.read_table(f'{base}/events.parquet')
    # the alert stream starts on the last base day no batch touches
    stream_start = FIRST_DAY - dt.timedelta(days=2)
    base_ev = incident(base_ev, stream_start, rng)
    pq.write_table(base_ev, f'{base}/events.parquet', version='2.6', row_group_size=16384)
    next_event = pc.max(base_ev['event_id']).as_py() + 1
    prev_start = day_ns(FIRST_DAY) - DAY_NS
    ts = base_ev['ts'].cast(pa.int64()).to_numpy()
    previous = base_ev.filter(pa.array(ts >= prev_start))

    ev_part = rng.integers(0, n_batches, ev.num_rows)
    ev_ts = ev['ts'].cast(pa.int64()).to_numpy()
    t0 = day_ns(dt.date(2024, 1, 1))
    for i in range(n_batches):
        d = os.path.join(out, f'b{i:03d}')
        os.makedirs(d, exist_ok=True)
        day = FIRST_DAY + dt.timedelta(days=i)
        new = ev.filter(pa.array(ev_part == i))
        n = new.num_rows
        late = rng.random(n) < LATE_SHARE
        offset = (ev_ts[ev_part == i] - t0) % DAY_NS
        new_ts = day_ns(day) + offset - np.where(late, DAY_NS, 0)
        new = new.set_column(new.schema.get_field_index('ts'), 'ts',
                             pa.array(new_ts, pa.timestamp('ns')))
        new = new.set_column(0, 'event_id',
                             pa.array(np.arange(next_event, next_event + n, dtype='int64')))
        new = incident(new, day, rng)
        next_event += n
        k = min(previous.num_rows, int(round(n * RESEND_SHARE)))
        resent = previous.take(pa.array(np.sort(rng.choice(previous.num_rows, k, replace=False))))
        corrected = np.round(resent['value'].to_numpy() * 1.1 + 1.0, 2)
        resent = resent.set_column(resent.schema.get_field_index('value'), 'value',
                                   pa.array(corrected))
        batch_ev = pa.concat_tables([new, resent.cast(new.schema)])
        pq.write_table(batch_ev, f'{d}/events.parquet', version='2.6')
        days = sorted({str(x) for x in
                       batch_ev['ts'].cast(pa.timestamp('ns')).cast(pa.date32()).to_pylist()})
        with open(f'{d}/days.txt', 'w') as f:
            f.write('\n'.join(days) + '\n')
        # the next batch re-sends keys of this batch's current day
        previous = new.filter(pa.array(~late))

    for f in os.listdir(pool_dir):
        os.remove(os.path.join(pool_dir, f))
    os.rmdir(pool_dir)
    with open(f'{out}/meta.properties', 'w') as f:
        f.write(f'first_day={FIRST_DAY.isoformat()}\n')
        f.write(f'stream_start={stream_start.isoformat()}\n')
        f.write(f'reads={READS}\n')


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument('out')
    ap.add_argument('sf', type=float)
    ap.add_argument('seed', type=int)
    ap.add_argument('--batches', type=int, default=0)
    a = ap.parse_args(argv)
    corpus = os.path.join(a.out, 'corpus')
    generate(a.sf, corpus, a.seed)
    if a.batches:
        write_batches(corpus, os.path.join(a.out, 'batches'), a.sf, a.seed, a.batches)


if __name__ == '__main__':
    main()
