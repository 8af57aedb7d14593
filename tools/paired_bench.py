#!/usr/bin/env python3
"""Paired A/B bench: attribute per-query deltas under co-tenant noise.

Two warm graft.PairedRunner JVMs — A on a BASELINE classes snapshot, B
on the CURRENT build — execute each query seconds apart in interleaved
A/B then B/A order per pass, so both sides of every ratio see the same
minutes of machine weather. Per-query paired ratios stay attributable
at pass spreads that would flag a sequential run hopelessly noisy
(round-14 VERDICT item 1; r11-r13 lost three delta tables to noise).

Usage:
  tools/paired_bench.py BASELINE_CLASSES SFDIR [PASSES] [OUT.json] [q_a,q_b]

The current side always runs target/scala-2.13/classes. PairedRunner
itself is staged into a runner-only directory prepended to BOTH
classpaths, so the baseline snapshot needs no PairedRunner of its own;
SparkEntry still resolves from each side's own classes directory.

Output: one JSON line (and OUT.json) with per-query median seconds for
both sides, the paired ratio, movers >1.25x either way, and totals.
"""
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CUR = os.path.join(REPO, 'target/scala-2.13/classes')
SPARK_JARS = '/opt/spark/jars/*'

base_classes = sys.argv[1]
sfdir = sys.argv[2]
passes = int(sys.argv[3]) if len(sys.argv) > 3 else 3
out_path = sys.argv[4] if len(sys.argv) > 4 else None
only = set(sys.argv[5].split(',')) if len(sys.argv) > 5 else None

# Stage PairedRunner classes alone (runner dir is FIRST on both
# classpaths; it must contain nothing else or it would shadow the
# baseline snapshot's SparkEntry).
runner_dir = '/tmp/graft_paired_runner'
shutil.rmtree(runner_dir, ignore_errors=True)
os.makedirs(os.path.join(runner_dir, 'graft'))
staged = 0
for f in os.listdir(os.path.join(CUR, 'graft')):
    if f.startswith('PairedRunner'):
        shutil.copy(os.path.join(CUR, 'graft', f), os.path.join(runner_dir, 'graft', f))
        staged += 1
assert staged > 0, 'PairedRunner classes not found — compile first'


# The exact forked-run JVM flags from build.sbt (the round-14 lesson:
# bare `java -cp` fails Kryo aggregators on JDK 17 and lets the JIT
# code cache overflow mid-run — see tools/run_main.sh).
OPENS = ['java.base/java.lang', 'java.base/java.lang.invoke',
         'java.base/java.lang.reflect', 'java.base/java.io',
         'java.base/java.net', 'java.base/java.nio', 'java.base/java.util',
         'java.base/java.util.concurrent',
         'java.base/java.util.concurrent.atomic', 'java.base/sun.nio.ch',
         'java.base/sun.nio.cs', 'java.base/sun.security.action',
         'java.base/sun.util.calendar']
JVM_FLAGS = sum((['--add-opens', f'{p}=ALL-UNNAMED'] for p in OPENS), []) + [
    '-Dspark.ui.enabled=false', '-Dspark.sql.session.timeZone=UTC',
    '-XX:ReservedCodeCacheSize=1g', '-XX:+UseCodeCacheFlushing']


def start(classes):
    cp = f'{runner_dir}:{classes}:{SPARK_JARS}'
    return subprocess.Popen(
        ['java', '-Xmx24g'] + JVM_FLAGS + ['-cp', cp, 'graft.PairedRunner'],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL, text=True, bufsize=1)


def ask(proc, line):
    proc.stdin.write(line + '\n')
    proc.stdin.flush()
    while True:
        reply = proc.stdout.readline()
        if not reply:
            raise RuntimeError(f'runner died on: {line}')
        reply = reply.strip()
        if reply.startswith(('ok ', 'err ', 'queries ')):
            return reply


os.makedirs('/dev/shm/graft-spark', exist_ok=True)
a = start(base_classes)   # baseline
b = start(CUR)            # current
qa = set(ask(a, 'list').split(' ', 1)[1].split(','))
qb = set(ask(b, 'list').split(' ', 1)[1].split(','))
names = sorted(qa & qb)
if only:
    names = [n for n in names if n in only]
print(f'paired: {len(names)} common queries '
      f'(baseline-only {len(qa - qb)}, current-only {len(qb - qa)})', file=sys.stderr)

def run_one(proc, name):
    reply = ask(proc, f'{name} {sfdir}')
    kind, qname, rest = reply.split(' ', 2)
    if kind == 'err':
        return None, f'{qname}: {rest}'
    return float(rest), None

# Warmup both sides (JIT + page cache + codegen), discarded.
errors = {}
for n in names:
    for p in (a, b):
        _, e = run_one(p, n)
        if e:
            errors[n] = e
names = [n for n in names if n not in errors]

times = {n: {'a': [], 'b': []} for n in names}
t0 = time.time()
for pi in range(passes):
    # alternate which side goes first each pass — cancels any
    # first-mover page-cache/JIT bias in the pair
    first, second, fk, sk = (a, b, 'a', 'b') if pi % 2 == 0 else (b, a, 'b', 'a')
    for n in names:
        v1, e1 = run_one(first, n)
        v2, e2 = run_one(second, n)
        if e1 or e2:
            errors[n] = e1 or e2
            continue
        times[n][fk].append(v1)
        times[n][sk].append(v2)
    print(f'pass {pi + 1}/{passes} done ({time.time() - t0:.0f}s)', file=sys.stderr)
for p in (a, b):
    try:
        p.stdin.write('quit\n'); p.stdin.flush(); p.wait(timeout=60)
    except Exception:
        p.kill()

med = lambda xs: sorted(xs)[len(xs) // 2] if len(xs) % 2 else sum(sorted(xs)[len(xs)//2-1:len(xs)//2+1]) / 2
rows = {}
for n in names:
    if n in errors or not times[n]['a']:
        continue
    ma, mb = med(times[n]['a']), med(times[n]['b'])
    rows[n] = {'base': round(ma, 4), 'cur': round(mb, 4),
               'ratio': round(mb / ma, 3) if ma > 0 else None}
total_a = sum(r['base'] for r in rows.values())
total_b = sum(r['cur'] for r in rows.values())
# ratio is None when a baseline median is 0 — skip those rows here
# (the `or 1` in the sort key only covers the log call, not the
# comparisons below).
movers = {n: r['ratio'] for n, r in sorted(rows.items(), key=lambda kv: -abs(__import__('math').log(kv[1]['ratio'] or 1)))
          if max(r['base'], r['cur']) > 0.15 and r['ratio'] is not None
          and (r['ratio'] > 1.25 or r['ratio'] < 0.8)}
report = {
    'metric': 'paired_total', 'base_total': round(total_a, 2),
    'cur_total': round(total_b, 2),
    'total_ratio': round(total_b / total_a, 3) if total_a else None,
    'passes': passes, 'sf': sfdir, 'n_queries': len(rows),
    'movers_gt_1.25x': movers, 'errors': errors, 'queries': rows,
}
line = json.dumps(report)
print(line)
if out_path:
    with open(out_path, 'w') as fh:
        fh.write(line + '\n')
if errors:
    sys.exit(1)
