.PHONY: test tier1 oracle bench perf zip submit

test:
	python -m pytest tests/ -x -q

# the ROADMAP tier-1 gate, verbatim
tier1:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

oracle:
	python scripts/check_oracles.py /root/testdata/sf0.01

bench:
	python bench.py

# one benchmark run, the command every timing comparison uses:
#   make perf W=table_maintenance SEED=101 TRACE=0
W ?= table_maintenance
SEED ?= 1
TRACE ?= 0
perf:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 6 --trace $(TRACE)

zip:
	python -m zipfile -c sparkh3.zip sparkh3

submit: zip
	spark-submit --master 'local[8]' --py-files sparkh3.zip jobs/pipeline_job.py
