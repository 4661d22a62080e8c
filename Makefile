# Round gate targets (VERDICT r2 item 3): run `make preflight` before any
# end-of-round snapshot — it refuses (non-zero exit) on any driver-window
# oracle mismatch, test failure, or unparseable bench line.

.PHONY: gate test bench preflight

gate:
	python scripts/green_gate.py

# the Tier-1 verify command from ROADMAP.md, verbatim
test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

preflight: gate test bench
