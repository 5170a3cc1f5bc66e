"""Regenerate ``perfbench/digests.json``: the expected digest of every
timed query, computed from its DuckDB oracle over the benchmark's data.

Run from the repository root:

    python3 perfbench/pin_digests.py

The query digests change only when the data or an oracle changes. The
write operations' expected contents are derived from the seed at run time
(``ops.WriteFixtures``); the ones for the self-test's seed are pinned here
too, so that a change in that derivation shows.
"""

from __future__ import annotations

import json
import os
import random
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from digest import digest  # noqa: E402
from ops import WORKLOADS, WriteFixtures, query_names  # noqa: E402
from tests.oracle_harness import duck_connection  # noqa: E402

COMMAND = "python3 perfbench/pin_digests.py"
WRITES_SEED = 7  # the self-test's seed
SCALES = ("0.01", "0.001")


def oracles() -> dict[str, str]:
    from zoom_etl_spark import plans, registry
    sql = dict(registry.oracle_sql())
    sql["flagship_topk_revenue"] = plans.FLAGSHIP_ORACLE
    return sql


def pin(sf: str, sql: dict[str, str]) -> dict:
    con = duck_connection(os.path.join(HERE, "data", f"sf{sf}"))
    out = {}
    for w in WORKLOADS:
        for name in query_names(w):
            res = con.execute(sql[name])
            out[name] = digest(res.fetchall(), [d[0] for d in res.description])
    con.close()
    return out


def expected_writes(sf: str, seed: int) -> dict:
    fx = WriteFixtures(os.path.join(HERE, "data", f"sf{sf}"), random.Random(seed))
    return {"seed": seed, "users": fx.expected_users,
            "meetings": fx.expected_meetings, "target": fx.expected_target,
            "retained": fx.expected_retained}


def main() -> None:
    sql = oracles()
    pinned = {"command": COMMAND}
    pinned.update({f"sf{sf}": pin(sf, sql) for sf in SCALES})
    pinned["writes"] = {f"sf{sf}": expected_writes(sf, WRITES_SEED) for sf in SCALES}
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
