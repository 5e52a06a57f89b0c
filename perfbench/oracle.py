#!/usr/bin/env python3
"""Record the near_dup input and its oracle.

    python3 perfbench/oracle.py <sf0.1>/documents.parquet

Run from the root of a checkout, with the sf0.1 ``documents`` table the
``__spark_entry__`` queries read (see TESTDATA.md). Writes its
``NearDup.N_DOCS`` lowest doc_ids, sorted by doc_id, to
perfbench/near_dup_documents.parquet, and the digests of the DuckDB twins in
``__spark_entry__.oracle_sql()`` over that slice to
perfbench/near_dup_oracle.json. Rerun it after changing N_DOCS or the twins.
The twins take too long to repeat inside a benchmark run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pyarrow.compute as pc  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

from workloads import DOCS_PATH, ORACLE_PATH, NearDup, table_digest  # noqa: E402


def main() -> None:
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    src = pq.read_table(sys.argv[1]).replace_schema_metadata(None)
    docs = src.take(pc.sort_indices(src, [("doc_id", "ascending")]))
    pq.write_table(docs.slice(0, NearDup.N_DOCS), DOCS_PATH)
    rec = NearDup.record_oracle(DOCS_PATH)
    rec["source"] = {"rows": src.num_rows, "digest": table_digest(src),
                     "slice": f"lowest {NearDup.N_DOCS} doc_id"}
    with open(ORACLE_PATH, "w") as f:
        json.dump(rec, f, indent=2, sort_keys=True)
        f.write("\n")
    print(json.dumps(rec))


if __name__ == "__main__":
    main()
