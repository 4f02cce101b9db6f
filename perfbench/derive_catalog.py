#!/usr/bin/env python3
"""Make catalog.json from one derivation run of the harness.

    python3 perfbench/derive_catalog.py <derive.json> > perfbench/catalog.json

<derive.json> is what `graftbench.Main --derive 1` writes: every declared
query, in name order in one fresh session over the generated sf0.1 data,
built and checksummed twice. This script applies the committed rules:

- membership: a query whose construction (QueryDef.build) launched at least
  one Spark job is catalog_iterative, every other query catalog_relational.
  The split was made once and is never derived again, so a change that
  deletes jobs cannot move queries between workloads;
- expected result: the row count and the checksum. A query that failed, or
  whose checksum differs between the two passes, is left out: it has no
  result to check against;
- sample: per workload, a round-robin over query families (the name up to
  its first "_"), adding one query per family in turn, the family's fastest
  (warm) first, until the warm times sum to TARGET_S. The families of FIRST
  are visited first: the iterative families the benchmark exists for (PCA,
  IRLS, HNSW and other ANN search, graph, dedup) and curation, whose call
  sites the llm layer's metrics are attributed to; the others follow in a
  seeded order. Fastest first, and queries slower than MAX_QUERY_S warm
  left out, so that a run of the benchmark's time budget covers as many
  families as it can. The runs time this fixed sample; the run seed only
  shuffles its order.
"""
import json
import random
import sys

TARGET_S = {"catalog_iterative": 5.0, "catalog_relational": 4.0}
FIRST = ["pca", "ml", "simsearch", "graph", "dedup", "curation"]
MAX_QUERY_S = 2.5
SAMPLE_SEED = 20261017


def main(path):
    d = json.load(open(path))
    queries, lists = {}, {"catalog_iterative": [], "catalog_relational": []}
    for name in sorted(d):
        q = d[name]
        ok = all(":" in q[k] and q[k].split(":")[0].isdigit() for k in ("first", "second"))
        if not ok or q["first"] != q["second"]:
            continue  # failed or not reproducible: no expected result
        workload = "catalog_iterative" if q["build_jobs"] > 0 else "catalog_relational"
        queries[name] = {
            "workload": workload, "build_jobs": q["build_jobs"],
            "rows": int(q["first"].split(":")[0]), "checksum": q["first"],
            "warm_s": round(q["warm_s"], 3)}
        lists[workload].append(name)
    rng = random.Random(SAMPLE_SEED)
    sample = {}
    for w, names in lists.items():
        fams = {}
        for n in (n for n in names if queries[n]["warm_s"] <= MAX_QUERY_S):
            fams.setdefault(n.split("_")[0], []).append(n)
        order = sorted(fams)
        rng.shuffle(order)
        order = [f for f in FIRST if f in fams] + [f for f in order if f not in FIRST]
        for f in order:  # pop() takes the fastest
            fams[f].sort(key=lambda n: (-queries[n]["warm_s"], n))
        picked, total, i = [], 0.0, 0
        while total < TARGET_S[w] and any(fams.values()):
            f = order[i % len(order)]
            i += 1
            if fams[f]:
                n = fams[f].pop()
                picked.append(n)
                total += queries[n]["warm_s"]
        sample[w] = sorted(picked)
    json.dump({"rule": "catalog_iterative: construction launched >= 1 Spark job",
               "queries": queries, "sample": sample}, sys.stdout, indent=1, sort_keys=True)
    print()


if __name__ == "__main__":
    main(sys.argv[1])
