"""Order-insensitive digest of a result table: row count plus a SHA-256
over the canonicalised rows.

The canonical form is ``tests/oracle_harness.py``'s, the one the
repository's DuckDB oracle comparison uses (columns sorted by name, every
value tagged by kind, rows sorted), so a digest computed from DuckDB's
answer equals the digest of a correct Spark answer.
"""

from __future__ import annotations

import hashlib

from tests.oracle_harness import _canon


def digest(rows, columns) -> dict:
    """``{"rows": n, "hash": hex}`` for ``rows`` (sequences aligned with
    ``columns``), independent of row order and column order."""
    canon = _canon(rows, columns)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in canon:
        h.update(repr(row).encode())
    return {"rows": len(canon), "hash": h.hexdigest()}


def frame_digest(df) -> dict:
    """Digest of a Spark DataFrame, collected to the driver."""
    return digest([tuple(r) for r in df.collect()], df.columns)
