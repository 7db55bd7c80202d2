.PHONY: test package submit submit-stream bench bench-compare perfbench perfbench-test oracle plans

test:
	python -m pytest tests/ -x -q

package:
	mkdir -p dist
	rm -f dist/dataflows_spark.zip
	cd . && zip -qr dist/dataflows_spark.zip dataflows_spark -x '*__pycache__*'

# cluster-style launch (north rule): swap --master for yarn/k8s on a real cluster
submit: package
	spark-submit --master local[$${SPARK_GRAFT_CPUS:-32}] \
		--conf spark.sql.shuffle.partitions=64 \
		--conf spark.sql.adaptive.enabled=true \
		--conf spark.sql.session.timeZone=UTC \
		--py-files dist/dataflows_spark.zip \
		scripts/submit_pipeline.py --clips synth:20000 --out /tmp/dfs_submit_out

submit-stream: package
	spark-submit --master local[$${SPARK_GRAFT_CPUS:-32}] \
		--conf spark.sql.shuffle.partitions=64 \
		--conf spark.sql.adaptive.enabled=true \
		--conf spark.sql.session.timeZone=UTC \
		--py-files dist/dataflows_spark.zip \
		scripts/submit_pipeline.py --clips $${CLIPS_PATH:?set CLIPS_PATH} --stream \
		--out /tmp/dfs_submit_stream_out

bench:
	python bench.py

bench-compare:
	python bench.py --compare $${BASELINE:?set BASELINE=BENCH_rNN.json}

# one benchmark run, one JSON line: make perfbench W=join_merge SEED=1 TRACE=0
W ?= join_merge
SEED ?= 1
TRACE ?= 0
perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 10 --trace $(TRACE)

perfbench-test:
	python3 -m pytest -q perfbench/tests

oracle:
	python scripts/check_oracle.py /root/testdata/sf0.01

plans:
	python scripts/gen_plans.py
