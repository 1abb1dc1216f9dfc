# Pre-snapshot guards.  `make preflight` is the MINIMUM bar before any
# end-of-round commit: it is cheap enough (~2 min) that even a
# minutes-long micro-round can run it, and it catches the two failure
# classes that have actually shipped — a red static lint (round 7) and
# a gate-window query going red.  `make check` / `make test` are the
# full evidence/verification runs for normal-length rounds.

PY ?= python

.PHONY: preflight lint daemon gate test check bench smoke

# static lints + plan/registry invariants (no Spark jobs beyond plan
# construction) then the CURRENT gate window against the DuckDB oracle
# at sf0.001 — the same compare the external driver runs at sf0.01
preflight: lint daemon gate smoke

lint:
	GATE_LINT_STRICT=1 $(PY) -m pytest tests/test_registry_lint.py \
	  tests/test_plans.py::test_gate_window_composition_stable \
	  tests/test_plans.py::test_gate_priority_stamp_current \
	  tests/test_plans.py::test_local_evidence_spliced_current -q

# the worker daemon's two patches, in subprocesses (no Spark): fails when a
# PySpark or CPython upgrade renames what they replace
daemon:
	$(PY) -m pytest tests/test_worker_daemon.py -q

gate:
	$(PY) -c "from vunnel_spark.queries import GATE_WINDOW; import subprocess, sys; \
	sys.exit(subprocess.call(['$(PY)', 'scripts/check_correctness.py', '/root/testdata/sf0.001', *GATE_WINDOW]))"

smoke:
	$(PY) -c "import __spark_entry__ as e; from vunnel_spark.session import get_spark; \
	s = get_spark('smoke'); df = e.entry(s); \
	q, o = e.queries(), e.oracle_sql(); \
	print('entry rows:', df.count(), 'queries:', len(q), 'oracles:', len(o))"

# full suite (~13 min) — required for normal rounds
test:
	$(PY) -m pytest tests/ -x -q

# full-registry oracle gate at sf0.001 (~6 min at sf0.01 pass the dir)
check:
	$(PY) scripts/check_correctness.py

bench:
	$(PY) bench.py
