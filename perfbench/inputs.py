"""The per-seed request data: uploaded customer batches.

`write_customers(path, n, seed, stream)` writes an uploaded customer
batch in the `customer` table's schema from a workload seed. Scoring
derives every model feature from `c_custkey` and `c_acctbal`, so keys are
drawn from a wide range to hit every residue the null/unknown-category
injection uses. The shared tables are not generated: they are the
committed copies under `fixture/`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def write_customers(path, n, seed, stream):
    """`n` customer rows drawn from (seed, stream), as one parquet file.

    Keys are distinct within the file and span 0..10^9, so every residue
    class the scoring pipeline keys nulls and unknown categories on is hit.
    """
    rng = np.random.default_rng([seed, stream])
    keys = np.sort(rng.choice(1_000_000_000, n, replace=False)).astype(np.int64)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    }), path)
