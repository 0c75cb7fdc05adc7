# One-command round verification (round-6 verdict item 6).
#
#   make verify        — oracle gate (34 queries vs DuckDB at sf0.01)
#                        + full pytest + a smoke bench at sf0.001
#   make gate          — oracle gate only (~2 min)
#   make test          — the tier-1 pytest command (~15 min)
#   make perf          — benchmark self-tests + one er_vocab benchmark run
#   make smoke         — tiny-corpus bench only (~1 min)
#   make bench         — the full driver-protocol bench at sf0.1
#                        (what the driver runs; ~10 min + probes)
#
# No pip/apt targets on purpose: the sandbox is frozen (pyspark 4.1.2,
# duckdb, pyarrow, pandas, numpy, pytest baked in).

SF_DIR ?= /root/testdata/sf0.01
SMOKE_SF_DIR ?= /root/testdata/sf0.001
PY ?= python

.PHONY: verify gate test perf smoke bench

verify: gate test smoke
	@echo "verify: oracle gate + pytest + smoke bench all green"

gate:
	$(PY) tools/check_oracles.py $(SF_DIR)

# tier-1: every test runs (no -x), one Spark core per CPU in the affinity
# mask, Spark scratch under /tmp/spark-local
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	timeout -k 10 2670 $(PY) -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perf:
	python3 -m pytest perfbench/tests -q
	python3 perfbench/run.py --workload er_vocab --seed 7 --seconds 16 --trace 0

smoke:
	SPARK_GRAFT_SF_DIR=$(SMOKE_SF_DIR) SPARK_GRAFT_SCALING=0 \
	SPARK_GRAFT_QUERY_REPEATS=1 SPARK_GRAFT_ER_PAGES=6000 \
	SPARK_GRAFT_ER_BOILER_KB=8 $(PY) bench.py

bench:
	$(PY) bench.py
