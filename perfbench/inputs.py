"""Seeded input derivation: resample the bundled sf0.1 tables.

`data/` holds the read-only sf0.1 `events`, `documents` and `part` tables of the engine's test data (seed 42). A run draws a fixed
number of rows from each table its workload reads, without replacement and in source
order, with a generator seeded by `--seed` and the table's name. Schemas
(column types and file metadata) are unchanged, each output is one file
with one row group like the source, and the same seed always gives the
same bytes. The engine receives only the output directory.
"""
import hashlib
import os
import zlib

import numpy as np
import pyarrow.parquet as pq

# Rows drawn per table, per workload. "bench" keeps a pass to a few seconds
# so that a run fits its time budget; corpus_session draws more documents
# because its many small shuffle jobs vary less from run to run with more
# rows each. "smoke" is sf0.001-sized.
SIZES = {
    "bench": {"media_curation": {"events": 4000, "documents": 400, "part": 500},
              "corpus_session": {"documents": 1500}},
    "smoke": {"media_curation": {"events": 1000, "documents": 500, "part": 200},
              "corpus_session": {"documents": 500}},
}


def derive(src_dir, out_dir, sizes, seed):
    """Draw `sizes[table]` rows of each table into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    record = {}
    for name, rows in sizes.items():
        src = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
        n = min(rows, src.num_rows)
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        idx = np.sort(rng.choice(src.num_rows, size=n, replace=False))
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(src.take(idx), path, row_group_size=max(n, 1))
        with open(path, "rb") as fh:
            data = fh.read()
        record[name] = {"rows": n, "source_rows": src.num_rows, "bytes": len(data),
                        "sha256": hashlib.sha256(data).hexdigest()}
    return record
