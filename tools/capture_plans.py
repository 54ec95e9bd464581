#!/usr/bin/env python3
"""Capture the executed plans of a multi-generation facet query.

Usage: python3 tools/capture_plans.py <repo_root> <suffix> <out_dir>
  repo_root: tree whose engine to load (the parent checkout for
             "before", the working tree for "after")
  suffix:    "before" | "after"
  out_dir:   where facet_query_<n>_<suffix>.txt files land

Builds a LuceneCore with 4 generations (a base commit, two commits of
adds, upserts and a delete, and one delete-only commit: the
ingest_refresh shape), opens a fresh reader and runs a term query with
a ``lang`` facet. Each Spark SQL execution the query starts (the facet
drilldown, then the page collect) is written as its final adaptive plan,
taken from the SQL status store after the run. The plan SHAPE (scans
per table, broadcast stages and their reuse) is what the files are for,
not timings.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

repo, suffix, out_dir = sys.argv[1], sys.argv[2], sys.argv[3]
sys.path.insert(0, repo)
os.makedirs(out_dir, exist_ok=True)

from meresco_lucene_spark.core import LuceneCore  # noqa: E402
from meresco_lucene_spark.query.ir import Q  # noqa: E402
from meresco_lucene_spark.session import get_spark  # noqa: E402
from meresco_lucene_spark.shipping import ensure_shipped  # noqa: E402

spark = get_spark(cores=4, shuffle_partitions=4, driver_memory="2g")
spark.sparkContext.setLogLevel("ERROR")
ensure_shipped(spark)

WORDS = ["spark", "join", "table", "scan", "fast", "slow", "rare"]
LANGS = ["py", "go", "rs"]


def add(core, i, text):
    core.addDocument(
        [
            {"type": "TextField", "name": "text", "value": text},
            {"type": "FacetField", "name": "lang", "value": LANGS[i % 3]},
        ],
        identifier=f"d{i}",
    )


work = tempfile.mkdtemp(prefix="mls_plans_")
core = LuceneCore(spark, work, n_shards=2)
for i in range(60):
    add(core, i, " ".join(WORDS[(i * k + k) % len(WORDS)] for k in range(1, 5)))
core.commit()
for c in (1, 2):
    for i in range(60 + 5 * c, 65 + 5 * c):
        add(core, i, f"spark fast new{c}")
    add(core, c, f"spark upserted{c}")
    core.delete(identifier=f"d{10 + c}")
    core.commit()
core.delete(identifier="d20")
core.commit()

store = spark._jsparkSession.sharedState().statusStore()
first = store.executionsCount()
resp = core.executeQuery(
    Q.term("text", "spark"), facets=[{"fieldname": "lang", "maxTerms": 10}]
)
print("generations", len(core.reader().gens), "total", resp.total, flush=True)
executions = store.executionsList()
n = 0
for i in range(executions.size()):
    e = executions.apply(i)
    if e.executionId() < first:
        continue
    n += 1
    path = os.path.join(out_dir, f"facet_query_{n}_{suffix}.txt")
    with open(path, "w") as f:
        f.write(f"jobs: {e.jobs().size()}\n{e.physicalPlanDescription()}")
    print("captured", path, flush=True)
spark.stop()
shutil.rmtree(work, ignore_errors=True)
