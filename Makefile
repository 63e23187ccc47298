# Developer verification targets.  `make verify` is the turn-boundary gate:
# cheap (seconds), and exactly what the round-6 failure mode needed — the
# tree must compile and the entry surface must import at every stopping
# point, because the end-of-round snapshot commits whatever is in the tree.

PY ?= python
SF ?= /root/testdata/sf0.01

.PHONY: verify test sweep sweep-changed sweep-fingerprints bench perfbench plans

verify:
	$(PY) -m pytest tests/test_compile_gate.py tests/test_registry_window.py -q

test:
	$(PY) -m pytest tests/ -q

# Full-registry oracle sweep (local replica of the driver gate).
# Narrow to changed entries: make sweep ONLY=name1,name2
sweep:
	$(PY) tools/check_oracle.py --sf $(SF) $(if $(ONLY),--only $(ONLY),)

# Incremental sweep: only entries affected by the diff since SINCE
# (default HEAD) — module-tag map + oracle-fingerprint diff; falls back
# to a full sweep when shared code (dialect/registry/views) changed.
# Refresh the fingerprint baseline with a green full sweep:
#   make sweep-fingerprints
SINCE ?= HEAD
sweep-changed:
	$(PY) tools/check_oracle.py --sf $(SF) --changed-since $(SINCE)

sweep-fingerprints:
	$(PY) tools/check_oracle.py --sf $(SF) --write-fingerprints

bench:
	$(PY) bench.py

# The repo benchmark (BENCHMARK.json): perfbench's own tests, then one
# 10-second run of every workload, each printing its JSON result line.
# Run it at two commits to A/B them.
perfbench:
	$(PY) -m pytest perfbench -q
	for w in $$($(PY) -c "import json; print(' '.join(w['name'] for w in json.load(open('BENCHMARK.json'))['workloads']))"); do \
		$(PY) perfbench/run.py --workload $$w --seed 1 --seconds 10 || exit 1; \
	done

plans:
	$(PY) tools/audit_plans.py
