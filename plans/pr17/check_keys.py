#!/usr/bin/env python3
"""Check soak output lines against the keys the parent's mains printed.

Usage: python3 plans/pr17/check_keys.py <soak.jsonl> [parent-rev]

Reads the six soak/bench mains from `git show <parent-rev>:…` (default
f73cff1, the commit before the soak table), collects each hand-built
JSON line's metric name and key set (SoakBench's `axis(name, …)` calls
get the axis line's keys), parses every line of <soak.jsonl> as JSON
and reports, per metric, whether its keys equal the parent's.
RobotsSoak printed free text, so `robots_winner` is listed as new.
"""
import json
import re
import subprocess
import sys

MAINS = ['SoakBench', 'ThroughputBench', 'SkewSoak', 'PolitenessSkewSoak',
         'RobotsSoak', 'ReliableMaterializeSoak']


def parent_keys(rev):
    keys = {}
    for m in MAINS:
        src = subprocess.run(['git', 'show', f'{rev}:src/main/scala/graft/tools/{m}.scala'],
                             capture_output=True, text=True, check=True).stdout
        for line in re.findall(r'println\(s?f?"""(\{"metric".*?)"""\)', src):
            name = re.match(r'\{"metric":"([^"]*)"', line).group(1)
            ks = [k for k in re.findall(r'"(\w+)":', line) if k != 'metric']
            keys[name] = set(ks)
        if m == 'SoakBench':
            axis_keys = keys.pop('soak_$name')
            for name in re.findall(r'axis\("(\w+)"', src):
                keys['soak_' + name] = axis_keys
    # variant names built by interpolation
    for v in ('plain', 'aqe', 'salted'):
        keys[f'skew_{v}'] = keys['skew_$name']
    for v in ('raw', 'quota'):
        keys[f'politeness_{v}'] = keys['politeness_$name%s']
    for v in ('corpus_dedup', 'semantic_clusters'):
        keys[f'reliable_premium_{v}'] = keys['reliable_premium_$name']
    return {k: v for k, v in keys.items() if '$' not in k}


def main():
    path = sys.argv[1]
    rev = sys.argv[2] if len(sys.argv) > 2 else 'f73cff1'
    want = parent_keys(rev)
    seen, bad = {}, 0
    for i, line in enumerate(open(path), 1):
        o = json.loads(line)  # raises on any line that is not JSON
        seen.setdefault(o['metric'], set(o) - {'metric'})
    for m in sorted(seen):
        if m in want:
            ok = seen[m] == want[m]
            bad += not ok
            print(f"{'same' if ok else 'DIFF'}  {m}" +
                  ('' if ok else f"  parent {sorted(want[m])} now {sorted(seen[m])}"))
        else:
            print(f"new   {m}  {sorted(seen[m])}")
    missing = sorted(set(want) - set(seen))
    print(f"{len(seen)} metrics, {bad} with other keys, parent metrics not printed: {missing}")
    sys.exit(1 if bad or missing else 0)


if __name__ == '__main__':
    main()
