#!/usr/bin/env python3
"""Order-independent digest of each query's graft.Verify output: for
every query dir under <outdir>, the row count and a sha256 over the
column names (sorted) and the rows (sorted by their repr).
Usage: python3 tools/rowhash.py <outdir> > hashes.json
"""
import sys, os, json, hashlib
import pyarrow.dataset as pads

out = sys.argv[1]
res = {}
for name in sorted(os.listdir(out)):
    p = os.path.join(out, name)
    if not os.path.isdir(p):
        continue
    t = pads.dataset(p).to_table()
    cols = sorted(t.column_names)
    rows = sorted(repr(tuple(r[c] for c in cols)) for r in t.select(cols).to_pylist())
    h = hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()
    res[name] = [len(rows), h]
json.dump(res, sys.stdout, indent=0, sort_keys=True)
