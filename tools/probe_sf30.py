"""sf30 probe of the heavy corpus family (round-9 verdict #3 widened
it from the original two linear heavies): measure every
documents/embeddings-only heavy one decade past the 128 GiB comfort
zone to confirm the linear extrapolations recorded in BASELINE.md.
Bench protocol (codegen warm at sf0.001, median of
SPARK_GRAFT_PROBE_RUNS runs via bench.run_suite — default 3; set
SPARK_GRAFT_PROBE_RUNS=1 for the single-run decade mode used at
sf100, where a second pass of the heavies would double a multi-hour
probe for no extra signal). Prints one JSON line.

Usage: python tools/probe_sf30.py [sf_dir]   (default .scratch/sf30 —
generate it with `python tools/make_sf.py 300 .scratch/sf30
documents,embeddings`; only the corpus tables fit the box at sf30).
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# Scale-appropriate heap for the decade probe: the bench default (8g,
# a sf0.1-dataset setting) gives 32 local-mode task threads ~250 MB
# each — the rp band-key stage's ~128 MB/task transient allocations
# OOM'd the shared JVM at sf30. 1 GiB/task mirrors a real cluster's
# per-core memory; the box has 128 GiB.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "32g")

import bench  # noqa: E402
from jira_scraper_etl_spark import plans  # noqa: E402
from jira_scraper_etl_spark.session import get_spark  # noqa: E402

# Ordered cheapest-first so a truncated run still leaves per-query
# lines for most of the family in the log (the md5 winnow floor — the
# most expensive op at any decade — goes last).
PROBE = [
    # iterative clustering + the PQ compression path on top of IVF's
    # pruning (the encode is one int64 einsum per Arrow batch, so the
    # probe checks it stays linear alongside the coarse quantizer)
    "embedding_kmeans_exact", "similarity_ann_ivfpq",
    # the embedding/ANN + hash-dedup family (round-9 verdict #3),
    # every one documents/embeddings-only
    "similarity_ann_signlsh", "dedup_embedding_cosine_rp",
    "dedup_minhash_lsh", "dedup_cluster_canonical",
    "dedup_span_exact", "curate_corpus_v2",
    # round-11 third batch: SemDeDup is n^1.5 BY DESIGN (k ~ sqrt(n)
    # balances assignment and within-cluster pairing) — the probe
    # documents that super-linear-but-priced curve rather than
    # asserting linearity; BPE encode must stay corpus-linear (the
    # merge loop touches only the vocabulary table)
    "dedup_semantic_semdedup", "text_bpe_encode_stats",
    # the two winnowing passes; the md5 anchor is the known most
    # expensive linear floor (round-8 verdict #8)
    "text_winnow_fingerprints_fast", "text_winnow_fingerprints",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scratch/sf30"
    spark = get_spark("sf30probe")
    spark.sparkContext.setLogLevel("ERROR")
    for n in PROBE:  # codegen warm at toy SF (bench protocol)
        plans.QUERIES[n].fn(spark, "/root/testdata/sf0.001").count()
    runs = int(os.environ.get("SPARK_GRAFT_PROBE_RUNS", "3"))
    timings = bench.run_suite(spark, sf_dir, PROBE, runs=runs)
    print(json.dumps({"metric": "sf30_linear_heavies_probe",
                      "queries": timings, "unit": "sec"}))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
