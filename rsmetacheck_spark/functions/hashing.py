"""MinHash/LSH parameters shared by the dedup queries and their oracles.

Every dedup hash is built on md5-of-string -> lowercase hex, which Spark
and DuckDB compute identically — so every dedup operator has an exact
ANSI-SQL oracle (the driver's DuckDB correctness gate). xxhash64/murmur are
Spark-private and deliberately avoided in result-bearing columns; they are
still fine for *internal* salting (thresholds.N_SALT) where the value never
reaches output.

Scale note: minhash signatures are fixed-width (NUM_HASHES integers) per
doc — the LSH band shuffle moves (band_key, doc_id) pairs only, never
document text.
"""

from __future__ import annotations

NUM_HASHES = 128    # minhash permutations (production-scale: 128/16 bands
NUM_BANDS = 16      # -> 8 rows/band, LSH threshold (1/16)^(1/8) ~= 0.71)
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS
BAND_CAP = 100      # hot-band guard: a band bucket holding > BAND_CAP docs
                    # (a viral template) would go quadratic inside one key;
                    # such buckets are dropped, like dd03's DF<=100 guard
