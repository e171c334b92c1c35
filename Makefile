# Repeatable validation targets. The scaled soak decades are one
# command each: the dataset is (re)generated only if absent, then the
# scale-independent invariant suite (tests/test_sf1_soak.py) runs
# against it via SPARK_GRAFT_SOAK_DIR.

.PHONY: test oracle bench perfbench bench-sf1 bench-sf10 soak-sf1 soak-sf10 \
        plan-audit probe-sf30 probe-sf100

# the Tier-1 suite, as ROADMAP.md states it
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# full exact-value oracle sweep (stricter than the driver's hash compare)
oracle:
	python tools/check_oracle.py /root/testdata/sf0.01

bench:
	python bench.py

# the repo benchmark (BENCHMARK.json): its self-tests, then one untraced
# run of each workload; .PHONY matters, a perfbench/ directory exists
perfbench:
	python3 -m pytest perfbench -q -p no:cacheprovider
	python3 perfbench/run.py --workload etl_jira --seed 1 --seconds 10 --trace 0
	python3 perfbench/run.py --workload llm_curation --seed 1 --seconds 10 --trace 0

.scratch/sf1:
	python tools/make_sf.py 10 .scratch/sf1

.scratch/sf10:
	python tools/make_sf.py 100 .scratch/sf10

soak-sf1: .scratch/sf1
	SPARK_GRAFT_SOAK_DIR=.scratch/sf1 python -m pytest tests/test_sf1_soak.py -q

# 16g heap: the sf10 soak's differential compares are 9.5M-row
# exceptAll joins — the 8g default GC-thrashes the shared local-mode
# JVM (one run lost a collect block, another materialized 200 surplus
# rows in a deterministic batch plan — see BASELINE.md round 10)
soak-sf10: .scratch/sf10
	SPARK_GRAFT_SOAK_DIR=.scratch/sf10 SPARK_GRAFT_DRIVER_MEM=16g \
	python -m pytest tests/test_sf1_soak.py -q

bench-sf1: .scratch/sf1
	SPARK_GRAFT_SF_DIR=.scratch/sf1 python bench.py

bench-sf10: .scratch/sf10
	SPARK_GRAFT_SF_DIR=.scratch/sf10 python bench.py

plan-audit:
	python tools/plan_audit.py

# corpus tables only — a full sf30 lineitem (~4 GB) won't fit the box
.scratch/sf30:
	python tools/make_sf.py 300 .scratch/sf30 documents,embeddings

# the heavy corpus family one decade past the comfort zone (BASELINE.md)
probe-sf30: .scratch/sf30
	python tools/probe_sf30.py

.scratch/sf100:
	python tools/make_sf.py 1000 .scratch/sf100 documents,embeddings

# two decades past: 5M docs / 2M vectors; also runs the RP recall soak
probe-sf100: .scratch/sf100
	SPARK_GRAFT_DRIVER_MEM=48g python tools/probe_sf30.py .scratch/sf100
	SPARK_GRAFT_SOAK_DIR=.scratch/sf100 SPARK_GRAFT_DRIVER_MEM=32g \
	  python -m pytest tests/test_sf1_soak.py -q -k rp_recall_holds -s
