.PHONY: test tier1 oracle oracle-stable oracle-sf01 bench scaling plans zip perf-ingest perf-serve

SEED ?= 101
TRACE ?= 0

test:
	python -m pytest tests/ -x -q

# the tier-1 gate, verbatim from ROADMAP.md
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracle:
	python tools/check_oracle.py /root/testdata/sf0.01

oracle-stable:
	python tools/check_oracle.py /root/testdata/sf0.01 --runs 3

oracle-sf01:
	python tools/check_oracle.py /root/testdata/sf0.1

bench:
	python bench.py

perf-ingest:
	python3 perfbench/run.py --workload ingest --seed $(SEED) --trace $(TRACE)

perf-serve:
	python3 perfbench/run.py --workload serve --seed $(SEED) --trace $(TRACE)

scaling:
	python bench.py --scaling

plans:
	python tools/plan_audit.py > PLANS.md

zip:
	rm -f insar_spark.zip && zip -qr insar_spark.zip insar_spark
