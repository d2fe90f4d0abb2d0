.PHONY: test kernel oracle bench zip submit

# the Tier-1 command from ROADMAP.md
test:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local \
	  timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# Spark-free kernel checks (goldens, properties, bit layout, traversal,
# MinHash text hashing) and the reachability guard
kernel:
	python -m pytest tests/test_kernel_geo.py tests/test_kernel_properties.py \
	  tests/test_index_bits.py tests/test_traversal_polygon.py tests/test_kernel_text.py \
	  tests/test_reachability.py -q -p no:cacheprovider

# SF=sf0.001 LANES="dedup_keep dsir" gates a lane subset at another scale
SF ?= sf0.01
LANES ?=
oracle:
	python scripts/check_oracles.py /root/testdata/$(SF) $(LANES)

bench:
	python bench.py

zip:
	python -m zipfile -c sparkh3.zip sparkh3

submit: zip
	spark-submit --master "local[$$(nproc)]" --py-files sparkh3.zip jobs/pipeline_job.py
