# Development targets for the PySpark engine. All Spark runs are
# local-mode; see .claude/skills/verify/SKILL.md for the full recipe.

SF_SMALL := /root/testdata/sf0.001
SF_MED   := /root/testdata/sf0.01
SF_BIG   := /root/testdata/sf0.1
ROUND    ?= 8

.PHONY: test canary gate verify verify-big bench bench-smoke entry plans round-close

test:        ## tier-1: full pytest suite, exactly as ROADMAP.md runs it
	export SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" SPARK_LOCAL_DIRS=/tmp/spark-local; \
	timeout -k 10 2670 python -m pytest tests/ -q --continue-on-collection-errors -p no:cacheprovider

canary:      ## testdata schema-drift canary (run FIRST if events queries fail)
	python -m pytest tests/test_testdata_schema.py -q

gate:        ## drift canary + full oracle sweep at sf0.01 AND sf0.1 -> GATE_r$(ROUND).json
	python tools/round_gate.py $(ROUND)

verify:      ## full oracle sweep at sf0.01 (the driver's t2 stand-in)
	python tools/verify_oracle.py $(SF_MED)

verify-big:  ## full oracle sweep at sf0.1
	python tools/verify_oracle.py $(SF_BIG)

bench:       ## headline bench at sf0.1 (one JSON line on stdout)
	python bench.py

bench-smoke: ## fast bench smoke at sf0.01
	SPARK_GRAFT_SF_DIR=$(SF_MED) python bench.py

entry:       ## driver t1 smoke: entry() runs and returns rows
	python -c "from football_etl_pipeline_spark.session import get_spark; \
	import __spark_entry__ as e; print('rows:', e.entry(get_spark('smoke')).count())"

plans:       ## regenerate PLANS.md from the showcase set
	python tools/dump_plans.py $(SF_MED)

# END-OF-ROUND ritual: full pytest, then the closing gate (its count
# must equal len(QUERIES) at snapshot time, both SFs), then a full
# bench whose detail file is copied to the round-stamped name, then a
# fresh PLANS.md.
round-close: test ## end-of-round: pytest + gate + bench + plans
	python tools/round_gate.py $(ROUND)
	python bench.py
	cp BENCH_DETAIL.json BENCH_DETAIL_r$$(printf '%02d' $(ROUND)).json
	python tools/dump_plans.py $(SF_MED)
