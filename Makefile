.PHONY: test test-fast tier1 perfbench-selftest bench scaling dist clean

test:
	python -m pytest tests/ -x -q

test-fast:
	python -m pytest tests/ -x -q -m "not slow"

# the ROADMAP Tier-1 command, verbatim
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

perfbench-selftest:
	python3 perfbench/selftest.py

bench:
	python bench.py

scaling:
	python BENCH/scaling.py

dist:
	mkdir -p dist
	python -m zipfile -c dist/jaccard_ml_spark.zip jaccard_ml_spark
	@echo "submit with: spark-submit --py-files dist/jaccard_ml_spark.zip jobs/dedup.py ..."

clean:
	rm -rf dist .pytest_cache
	find . -name __pycache__ -type d -exec rm -rf {} +
