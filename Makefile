# One-command round-close evidence (r4 verdict task #9): chains the
# driver-identical DuckDB oracle gate, the full test suite, and a
# quiet-run bench into a single artifact under gate_out/.
#
#   make gate            # sf0.01 oracle sweep + pytest + bench (sf0.1)
#   make gate SF=sf0.1   # oracle sweep at a different scale
#   make oracles         # just the oracle sweep
#   make test            # just pytest
#   make bench           # just the headline bench JSON line
#   make perf            # perfbench's own tests + one untraced run per workload

SF ?= sf0.01
BENCH_SF ?= /root/testdata/sf0.1
OUT := gate_out

# pipefail so `cmd | tee log` fails when cmd fails — without it a
# pytest collection error (exit 2, last line "N errors", no word
# "failed") or a bench.py crash would still leave a green gate
SHELL := /bin/bash
.SHELLFLAGS := -o pipefail -ec

.PHONY: gate oracles test bench perf

oracles:
	@mkdir -p $(OUT)
	python scripts/check_oracles.py /root/testdata/$(SF) 2>&1 | tee $(OUT)/oracles_$(SF).log
	@grep -q "all oracle checks passed" $(OUT)/oracles_$(SF).log

test:
	@mkdir -p $(OUT)
	python -m pytest tests/ -q 2>&1 | tee $(OUT)/pytest.log
	@tail -1 $(OUT)/pytest.log | grep -vq "failed"

bench:
	@mkdir -p $(OUT)
	SPARK_GRAFT_SF_DIR=$(BENCH_SF) python bench.py 2>$(OUT)/bench.err | tee $(OUT)/bench.json
	@python -c "import json; json.load(open('$(OUT)/bench.json'))"

perf:
	python -m pytest perfbench/tests -q
	python3 perfbench/run.py --workload build --seed 1 --seconds 10 --trace 0
	python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

gate: oracles test bench
	@echo "gate complete: $(OUT)/oracles_$(SF).log $(OUT)/pytest.log $(OUT)/bench.json"
