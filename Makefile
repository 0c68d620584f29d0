# Local dev loop for pypgcdcspark (mirrors the driver's gates).
SF_CORRECTNESS ?= /root/testdata/sf0.01
SF_BENCH ?= /root/testdata/sf0.1
OUT ?= /tmp/graft_verify
CPUS ?= 32
ONLY ?=
# one benchmark run: workload, seed, per-layer trace (0|1)
W ?= cdc_stream_open
SEED ?= 1
TRACE ?= 0
# one test suite (fully qualified name) for `make spec`
S ?= graft.cdc.SyntheticWireSpec

.PHONY: compile test spec verify bench smoke demo livetest perfbench-test perfbench all

compile:
	sbt compile

test:
	sbt test

# one suite under the tier-1 test environment (cores, driver heap, local
# dirs), e.g. the wire-byte gate for any frame-generator edit:
#   make spec S=graft.cdc.SyntheticWireSpec
spec:
	SPARK_GRAFT_CPUS="$$(env -u OMP_NUM_THREADS nproc)" \
	  SPARK_DRIVER_MEM="$$(awk '/^MemTotal:/ {g = int($$2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' /proc/meminfo 2>/dev/null || echo 2g)" \
	  SPARK_LOCAL_DIRS=/tmp/spark-local sbt "testOnly $(S)"

# correctness gate: run all queries, compare against DuckDB
verify:
	sbt "runMain graft.Verify $(SF_CORRECTNESS) $(OUT)"
	python3 scripts/check_oracle.py $(SF_CORRECTNESS) $(OUT)

# CPUS: local[N] cores; ONLY: comma-separated query subset (empty = all)
bench:
	SPARK_GRAFT_SF_DIR=$(SF_BENCH) SPARK_GRAFT_CPUS=$(CPUS) \
	  $(if $(ONLY),SPARK_GRAFT_ONLY=$(ONLY)) sbt "runMain graft.Bench"

smoke:
	sbt "runMain graft.Smoke"

# live-Postgres validation: initdb's + runs a scratch PG 15 cluster itself
# (self-cancels where initdb/pg_ctl or the postgres user are absent)
livetest:
	sbt "testOnly graft.sources.LivePgSpec"

# the benchmark's own tests, and one benchmark run (15 s window)
perfbench-test:
	cd perfbench && sbt perfbench/test

perfbench:
	python3 perfbench/run.py --workload $(W) --seed $(SEED) --seconds 15 --trace $(TRACE)

demo:
	sbt "runMain graft.CdcDemo /root/testdata/sf0.001 1000"

all: compile test verify bench smoke
