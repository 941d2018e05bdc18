#!/usr/bin/env python3
"""Cold-JVM determinism diff: compare two graft.Verify output dirs
(e.g. produced with SPARK_GRAFT_CPUS=4 vs 8) query-by-query after
canonical column/row sort. Exit 1 on any content difference.

Usage: python3 tools/detdiff.py <dirA> <dirB>
"""
import sys, glob, os
import pandas as pd

def canon(d, name):
    files = sorted(glob.glob(f"{d}/{name}/*.parquet"))
    if not files:
        return None
    df = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
    df = df[sorted(df.columns)]
    rows = sorted(tuple(str(v) for v in r)
                  for r in df.itertuples(index=False, name=None))
    return rows

a, b = sys.argv[1], sys.argv[2]
names = sorted(os.path.basename(p) for p in glob.glob(f"{a}/*") if os.path.isdir(p))
ndiff = 0
for n in names:
    ra, rb = canon(a, n), canon(b, n)
    if ra is None or rb is None:
        print(f"MISSING {n}: a={'none' if ra is None else 'ok'} "
              f"b={'none' if rb is None else 'ok'}")
        ndiff += 1
    elif ra != rb:
        first = next(i for i, (x, y) in enumerate(zip(ra, rb)) if x != y) \
            if len(ra) == len(rb) else -1
        print(f"DIFF {n}: rows {len(ra)} vs {len(rb)}, first diff row {first}")
        ndiff += 1
print(f"== {len(names)} queries compared, {ndiff} diffs ==")
sys.exit(1 if ndiff else 0)
