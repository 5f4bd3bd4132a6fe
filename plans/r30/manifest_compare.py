"""Compare the manifest versions two runs of one scripted write sequence
left in two warehouses, after masking what differs run to run.

Usage: python3 manifest_compare.py <warehouse-a> <warehouse-b>

Masks commit timestamps and UUIDs (zone-sidecar and bloom tokens);
prints every remaining difference, one line per differing manifest,
and a count.
"""
import json
import os
import re
import sys

UUID = re.compile(r'[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}')


def mask(node, key=None):
    if isinstance(node, dict):
        return {k: mask(v, k) for k, v in node.items()}
    if isinstance(node, list):
        return [mask(v, key) for v in node]
    if key == 'timestampMillis':
        return '<masked>'
    if isinstance(node, str):
        return UUID.sub('<uuid>', node)
    return node


def manifests(root):
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if re.fullmatch(r'manifest-v\d+\.json', f):
                out[os.path.relpath(os.path.join(d, f), root)] = \
                    mask(json.load(open(os.path.join(d, f))))
    return out


def diff(a, b, path=''):
    if type(a) != type(b):
        return [f'{path}: {a!r} != {b!r}']
    if isinstance(a, dict):
        return [x for k in sorted(set(a) | set(b))
                for x in diff(a.get(k), b.get(k), f'{path}.{k}')]
    if isinstance(a, list):
        if len(a) != len(b):
            return [f'{path}: {len(a)} != {len(b)} entries']
        return [x for i, (u, v) in enumerate(zip(a, b)) for x in diff(u, v, f'{path}[{i}]')]
    return [] if a == b else [f'{path}: {a!r} != {b!r}']


a, b = manifests(sys.argv[1]), manifests(sys.argv[2])
print(f'{len(a)} manifests vs {len(b)}')
for name in sorted(set(a) - set(b)):
    print(f'only in first: {name}')
for name in sorted(set(b) - set(a)):
    print(f'only in second: {name}')
n = 0
for name in sorted(set(a) & set(b)):
    d = diff(a[name], b[name])
    if d:
        n += 1
        print(f'{name}: ' + '; '.join(d))
print(f'{n} manifests differ')
