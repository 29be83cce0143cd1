"""Output checks of one run, outside the timed passes.

The JVM side lists one check per operation:
  (name, "oracle", sql)   result parquet vs DuckDB on the same corpus,
                          judged by the repository's own checker,
                          tools/diffcheck.py (run as a subprocess)
  (name, "rows", count)   a rows-only query: the result is non-empty
  (name, "ingest", text)  slo_ingest state vs its rebuild: "ok" or why not
`run` returns (name, reason) pairs, reason "" when the check passed.
"""
import json
import os
import re
import subprocess
import sys

DIFFCHECK = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         'tools', 'diffcheck.py')
FAIL = re.compile(r'^\s*FAIL (\S+): (.*)$')


def oracle(sqls, results_dir):
    """{name: reason} from tools/diffcheck.py over `results_dir`, which
    holds <name>/*.parquet; this writes the oracle_sql.json it reads.
    """
    with open(os.path.join(results_dir, 'oracle_sql.json'), 'w') as f:
        json.dump(sqls, f)
    proc = subprocess.run([sys.executable, DIFFCHECK, results_dir],
                          capture_output=True, text=True, timeout=120)
    reasons = {}
    for line in proc.stdout.splitlines():
        m = FAIL.match(line)
        if m:
            reasons.setdefault(m.group(1), m.group(2))
    if proc.returncode not in (0, 1) or (proc.returncode == 1 and not reasons):
        why = f'diffcheck exited {proc.returncode}: {proc.stderr.strip()[-300:]}'
        return {name: why for name in sqls}
    return {name: reasons.get(name, '') for name in sqls}


def run(checks, results_dir):
    os.makedirs(results_dir, exist_ok=True)
    sqls = {name: detail for name, kind, detail in checks if kind == 'oracle'}
    judged = oracle(sqls, results_dir) if sqls else {}
    out = []
    for name, kind, detail in checks:
        if kind == 'oracle':
            why = judged[name]
        elif kind == 'rows':
            why = '' if int(detail) > 0 else 'empty result'
        else:
            why = '' if detail == 'ok' else detail
        out.append((name, why))
    return out
