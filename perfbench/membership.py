#!/usr/bin/env python3
"""Workload membership, from which files each declared query reads.

perfbench/classify.json records, per declared query, the files its SQL
executions scanned on a generated corpus (JVM side, `--mode classify`;
see perfbench/README.md). The rule:

  slo_report      the query reads only `events`, the seven star-schema
                  tables, and the rollups built from events alone
                  (ReportMaintenance, SketchRollup, QuantileRollup)
  curation_batch  every other query: documents, embeddings, and the
                  graph, vector and sketch stores

Each workload times every `stride`-th member in declaration order
(first member included), so one run fits the benchmark's time budget
while the sample still spans every query module. Running this script
rewrites perfbench/workloads.json from the parameters below.
"""
import json
import os

HERE = os.path.dirname(os.path.abspath(__file__))
STAR = {'events', 'region', 'nation', 'customer', 'supplier', 'part', 'orders', 'lineitem'}
EVENT_ROLLUPS = {'graft_report': 'ReportMaintenance', 'graft_sketch': 'SketchRollup',
                 'graft_qsketch': 'QuantileRollup'}
OTHER_STORES = {'graft_edges': 'EdgeStore', 'graft_sketches': 'SketchStore',
                'graft_ivf': 'IvfIndex', 'graft_pq': 'PqIndex', 'graft_ivfpq': 'IvfPq'}

# curation_batch is classified but not timed (perfbench/README.md).
PARAMS = {
    'slo_report': {'sf': 0.1, 'stride': 11},
    'slo_ingest': {'sf': 0.1, 'batches': 5,
                   'stores': ['ReportMaintenance', 'SketchRollup']},
}


def reads(paths):
    """(corpus tables, artifact names) a query's scans touched."""
    tables, stores = set(), set()
    for p in paths:
        head, _, rest = p.partition('/')
        name = rest.split('/')[0]
        if head == '{corpus}':
            tables.add(name.removesuffix('.parquet'))
        else:
            stores.add({**EVENT_ROLLUPS, **OTHER_STORES}.get(name, name))
    return tables, stores


def main():
    classify = json.load(open(os.path.join(HERE, 'classify.json')))
    members = {'slo_report': [], 'curation_batch': []}
    stores = {'slo_report': set(), 'curation_batch': set()}
    for q, paths in classify.items():
        tables, used = reads(paths)
        slo = tables <= STAR and used <= set(EVENT_ROLLUPS.values())
        w = 'slo_report' if slo else 'curation_batch'
        members[w].append(q)
        stores[w] |= used
    out = {}
    for w, p in PARAMS.items():
        entry = dict(p)
        if 'stride' in p:
            entry['members'] = len(members[w])
            entry['ops'] = members[w][::p['stride']]
            entry['stores'] = [s for s in list(EVENT_ROLLUPS.values()) + list(OTHER_STORES.values())
                               if s in stores[w]]
        out[w] = entry
    with open(os.path.join(HERE, 'workloads.json'), 'w') as f:
        json.dump(out, f, indent=1)
        f.write('\n')
    for w, e in out.items():
        print(w, e.get('members'), len(e.get('ops', [])), e['stores'])


if __name__ == '__main__':
    main()
