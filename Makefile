# Developer workflow (the reference's Makefile exposes run/test;
# ours exposes the three verification surfaces).

.PHONY: test selfcheck bench perf run all

# reference `make run` analog: boot the engine server process
# (env config: HTTP_ADDR/GRPC_ADDR/DATA_DIR/INGEST_*/RETENTION_DAYS)
run:
	python -m clickhouse_observability_spark.server

test:
	python -m pytest tests/ -q

selfcheck:
	python scripts/selfcheck.py

selfcheck-sf01:
	python scripts/selfcheck.py /root/testdata/sf0.1

bench:
	python bench.py

# service benchmark of record (perfbench/README.md): both gated
# workloads, untraced, at one seed
perf:
	python3 perfbench/run.py --workload backfill --seed 1 --seconds 20 --trace 0
	python3 perfbench/run.py --workload mixed --seed 1 --seconds 20 --trace 0

all: test selfcheck bench
