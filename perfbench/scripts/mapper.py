#!/usr/bin/env python3
import sys
for line in sys.stdin:
    line = line.strip()
    if not line:
        continue
    for idx, field in enumerate(line.split(",")):
        print(f"{idx}\t{int(field.strip())}")
