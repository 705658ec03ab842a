# Developer entrypoints (reference has make test / make build, Makefile:18-35)

.PHONY: test test-fast parity bench scaling golden-update submit-smoke netlines

test:
	python -m pytest tests/ -x -q

test-fast:
	python -m pytest tests/ -x -q -m "not slow" --ignore=tests/test_streaming.py

parity:
	PARITY_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/test_oracle_parity.py -q

bench:
	python bench.py

scaling:
	SPARK_GRAFT_DRIVER_MEM=16g python bench_scaling.py

golden-update:
	GOLDEN_UPDATE=1 python -m pytest tests/test_golden.py -q

submit-smoke:
	rm -rf /tmp/submit_smoke && mkdir -p /tmp/submit_smoke
	python -c "import shutil; shutil.make_archive('/tmp/submit_smoke/pkg', 'zip', '.', 'stellar_etl_spark')"
	printf 'import sys\nfrom stellar_etl_spark.jobs import main\nsys.exit(main(sys.argv[1:]))\n' > /tmp/submit_smoke/launch.py
	cd /tmp/submit_smoke && spark-submit --master 'local[4]' --py-files pkg.zip launch.py generate --out src --n-convs 50
	cd /tmp/submit_smoke && spark-submit --master 'local[4]' --py-files pkg.zip launch.py export_turns --source src --sink turns --checkpoint ck
	cd /tmp/submit_smoke && spark-submit --master 'local[4]' --py-files pkg.zip launch.py export_all --source src --sink all --checkpoint ck_all

# Added, deleted and net Python lines under stellar_etl_spark/ since a ref
# (tracked files, working tree included): make netlines BASE=<ref>
netlines:
	$(if $(BASE),,$(error BASE is required: make netlines BASE=<ref>))
	@git diff --numstat $(BASE) -- 'stellar_etl_spark/*.py' | \
		awk '{a += $$1; d += $$2} END {printf "added %d deleted %d net %+d\n", a, d, a - d}'
