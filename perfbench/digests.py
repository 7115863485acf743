"""Order-insensitive result digests, shared by the benchmark and by
``make_digests.py``.

A digest covers the sorted column names, the normalised Arrow type of each
column and the sorted multiset of normalised rows, with the value and type
normalisation of ``tests/parity.py`` (the repo's DuckDB-oracle compare).
Two results with equal digests would pass that compare.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from tests.parity import _norm, _norm_arrow_type  # noqa: E402

DIGEST_FILE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def table_digest(table: pa.Table) -> str:
    cols = sorted(table.column_names)
    types = [_norm_arrow_type(table.schema.field(c).type) for c in cols]
    columns = [table.column(c).to_pylist() for c in cols]
    rows = sorted(
        repr(tuple(_norm(col[i]) for col in columns)) for i in range(table.num_rows)
    )
    h = hashlib.sha256()
    h.update(json.dumps([cols, types, table.num_rows]).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def load_digests() -> dict[str, dict[str, str]]:
    """``{data_scale: {check_name: digest}}`` as committed."""
    with open(DIGEST_FILE) as f:
        return json.load(f)
