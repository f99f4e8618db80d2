#!/usr/bin/env python3
import sys
from itertools import groupby
pairs = (line.rstrip("\n").split("\t") for line in sys.stdin if line.strip())
for key, grp in groupby(pairs, key=lambda kv: kv[0]):
    vals = [int(v) for _, v in grp]
    s, n = sum(vals), len(vals)
    print(f"{key}\t{(s // n) - (s % n) * 100}")
