.PHONY: test tier1 test-fast contract oracles bench scaling package loc

test:
	python -m pytest tests/ -q

# the full tier-1 gate, as ROADMAP.md states it
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

test-fast:
	python -m pytest tests/ -q -x --ignore=tests/test_property.py

# driver-contract gate at the driver's scale (DuckDB oracles)
contract:
	KAMAE_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_driver_contract.py -q

# every driver query against its DuckDB oracle, bit-level, at sf0.01;
# Q="ann_topk ivf_topk" re-checks only the named queries
oracles:
	python scripts/check_oracles.py /root/testdata/sf0.01 $(Q)

bench:
	python bench.py

# N vs 4N scaling protocol -> BENCH/BASELINE.md (run with nothing else on the box)
scaling:
	KAMAE_SCALING_CONVS=3000000 KAMAE_BENCH_ONLY=synth python scripts/scaling_bench.py

package:
	python scripts/package.py

# code lines per kamae_spark/ module and the total, then one total each for
# bench.py, __spark_entry__.py, scripts/ and tests/ (no blanks, comments or
# docstrings)
loc:
	python scripts/loc.py kamae_spark bench.py __spark_entry__.py scripts tests
