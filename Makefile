# Convenience entry points; everything here shells into scripts/ with
# the same environment the driver uses.

STRESS_OPS ?= dedup_exact,dedup_minhash_lsh,dedup_simhash,dedup_pipeline,dedup_cross_corpus,dedup_cross_corpus_minhash,dedup_cross_corpus_indexed,corpus_train_shards

.PHONY: test bench sweep stress stress-100

test:
	python -m pytest tests/ -x -q

bench:
	python bench.py

# full-registry oracle sweep at sf0.01 (the driver-replica shape)
sweep:
	python tests/driver_replica.py /root/testdata/sf0.01

# 30× sf0.1 stress: the dedup/simhash/index family at 1.5M docs, with
# band-bucket guard activations recorded per op (SCALING.md table)
stress:
	SMOKE_OPS=$(STRESS_OPS) python scripts/scale_smoke.py 30

# 100× decade (5M docs) for the linear-scan subset — the quadratic-in-
# output ops stay at 30× where their true pair lists remain bounded
stress-100:
	SMOKE_OPS=dedup_exact,dedup_minhash_lsh,dedup_pipeline,dedup_cross_corpus_indexed,corpus_train_shards python scripts/scale_smoke.py 100
