"""Pin the curation check: run the query registry's DuckDB oracle for
each curation query over ``data/sf0.1/documents.parquet`` and write the
digest of each answer's row set to ``data/oracle_digests.json``.

    python3 perfbench/pin_oracle.py

Run it from the root of a checkout after the corpus or a query's
oracle changes. The oracle takes about a minute on a 4-core host,
which is why a benchmark run checks against the pinned digests
instead of recomputing them.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from exporter_spark.queries import QUERIES  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.workloads import QUERY_NAMES, digest, duck  # noqa: E402


def main() -> int:
    con = duck()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{inputs.DOCUMENTS}'")
    pinned = {}
    for q in QUERY_NAMES:
        rel = con.sql(QUERIES[q].oracle)
        pinned[q] = digest(rel.columns, rel.fetchall())
    with open(inputs.ORACLE_DIGESTS, "w") as fh:
        json.dump(pinned, fh, indent=1)
        fh.write("\n")
    print(json.dumps(pinned, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
