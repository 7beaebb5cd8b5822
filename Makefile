# Round-close / CI-style targets (VERDICT r4 item 7).
#
#   make oracles    — run the FULL contract list against the DuckDB
#                     oracles at sf0.01 and write ORACLES_LOCAL_r<N>.json
#                     (whole-list evidence every round; the driver only
#                     samples ~50 of the 125 queries)
#   make test       — full pytest suite: the ROADMAP Tier-1 command
#   make bench      — sf0.1 bench, one JSON line
#   make operators  — regenerate OPERATORS.md from the contract
#   make check      — fast hygiene: OPERATORS.md freshness + import smoke

ROUND ?= r05
SF    ?= sf0.01

.PHONY: oracles test bench operators check

oracles:
	python scripts/check_oracles.py --sf $(SF) \
		--json ORACLES_LOCAL_$(ROUND).json

test:
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
		SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q \
		--continue-on-collection-errors -p no:cacheprovider

bench:
	python bench.py

operators:
	python scripts/gen_operators_md.py

check:
	python scripts/gen_operators_md.py --check
	python -c "import __spark_entry__ as e; qs=e.queries(); o=e.oracle_sql(); \
	print(len(qs), 'queries,', len(o), 'oracles')"
