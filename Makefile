.PHONY: test ratchets oracle bench scaling job corpus pyfiles

# the tier-1 gate (ROADMAP.md "Tier-1 verify")
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

# the AST/catalog ratchets: no Spark, seconds — run after any signature or catalog edit
ratchets:
	python -m pytest -q -p no:cacheprovider tests/test_catalog.py::test_catalog_digest \
		tests/test_infra.py::test_no_test_only_definitions \
		tests/test_infra.py::test_no_single_valued_options

oracle:
	python scripts/check_oracles.py

bench:
	python bench.py

scaling:
	python scripts/bench_scaling.py

job:
	python jobs/feature_build.py --input /root/testdata/sf0.01 --output /tmp/ipl_feature_build

corpus:
	python jobs/corpus_dedup.py --input /root/testdata/sf0.01 --output /tmp/ipl_corpus

pyfiles:
	cd $(CURDIR) && zip -qr /tmp/ipl_dagster_pipeline_spark.zip ipl_dagster_pipeline_spark -x '*__pycache__*'
	@echo "spark-submit --py-files /tmp/ipl_dagster_pipeline_spark.zip jobs/feature_build.py ..."
