#!/usr/bin/env python3
"""Regenerate ``perfbench/digests.json`` from the DuckDB oracles.

    python3 perfbench/make_digests.py

For every input scale under ``perfbench/data/`` it runs the registered
oracle SQL of each batch query and of each ingest end-state check in
DuckDB over the same parquet tables, and stores the result digest.  The
benchmark compares every output it fetches against these digests; it
never runs an oracle itself.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from digests import DIGEST_FILE, table_digest  # noqa: E402
from workloads import BATCH, INGEST_CHECKS, query_name  # noqa: E402

from recsys_mapreduce_mrjob_spark import registry  # noqa: E402
from tests.parity import duck_connection  # noqa: E402


def main() -> None:
    registry.load_all()
    names = [query_name(q) for qs in BATCH.values() for q in qs] + list(INGEST_CHECKS)
    out = {}
    data_root = os.path.join(HERE, "data")
    for scale in sorted(os.listdir(data_root)):
        con = duck_connection(os.path.join(data_root, scale))
        try:
            out[scale] = {
                n: table_digest(con.execute(registry.ORACLES[n]).fetch_arrow_table())
                for n in names
            }
        finally:
            con.close()
        print(f"{scale}: {len(out[scale])} digests")
    with open(DIGEST_FILE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
