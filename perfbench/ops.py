"""Workload definitions, seeded write fixtures and output checks.

A workload is a fixed list of operations. An operation is either a
registered query (``registry.all_queries()[name].fn(spark, sf_dir)`` whose
DataFrame is then collected) or one of the two real write paths of the
reference pipeline (``etl.run_batch_etl`` and ``etl.reconcile_staging``).
Every operation's output is checked: queries against the pinned DuckDB
oracle digests, writes against contents derived here from the seed.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from digest import digest, frame_digest

# Query names are the registry's; the two ``etl.*`` names are the writes.
# ``BENCHMARK.json`` lists the workloads a full evaluation runs;
# ``curation`` is defined and checked too but left out of that list (see
# NOTES.md, "Run budget").
WORKLOADS = {
    # Sub-second reads, a merge, a partitioned sink round trip and the two
    # real writes: per-operation fixed cost (builder, Catalyst, job
    # scheduling) dominates.
    "warehouse": [
        "tpch_q3_shipping_priority", "tpch_q6_forecast_revenue",
        "flagship_topk_revenue", "json_extract", "merge_upsert",
        "sink_partitioned_write", "etl.batch_etl", "etl.reconcile",
    ],
    # availableNow replays of the events table: Python-stateful drains
    # (applyInPandasWithState) beside a JVM-stateful and a stateless one.
    "stream": [
        "stream_stateful", "stream_lastwins_ivm", "stream_dedup_watermark",
        "stream_ingest",
    ],
    # A driver-paced iterative operator (connected components), a
    # CPU-bound pair kernel and a single-shuffle dedup as the control.
    "curation": ["dedup_clusters", "dedup_levenshtein", "dedup_exact"],
}

ETL_OPS = ("etl.batch_etl", "etl.reconcile")
# Merges, sinks and writes: the operations behind ``write_p50_s``.
WRITES = ("merge_upsert", "sink_partitioned_write") + ETL_OPS

# run_batch_etl's synthetic REST source: keys 0..N_KEYS-1, each key
# yielding key % 4 + 1 meetings.
N_KEYS = 24
N_STALE_USERS = 8     # prefilled users the ETL run must overwrite
N_EXTRA_USERS = 4     # prefilled users outside the source, kept as is


def query_names(workload: str) -> list[str]:
    return [n for n in WORKLOADS[workload] if n not in ETL_OPS]


class CheckFailed(Exception):
    """An operation's output differs from its expected contents."""


def _staging_batch(orders: pa.Table, customer: pa.Table, rng: random.Random):
    """Seeded staging rows: 10% of orders updated, 5% new orders of
    existing customers, 3% new orders of missing customers. Returns the
    batch and the expected target and retained staging after the merge."""
    rows = orders.to_pylist()
    n = len(rows)
    next_key = max(r["o_orderkey"] for r in rows) + 1
    cust_keys = customer.column("c_custkey").to_pylist()
    missing_cust = max(cust_keys) + 1
    staging = [dict(r, o_orderstatus="F", o_totalprice=round(r["o_totalprice"] * 1.1, 2))
               for r in rng.sample(rows, n // 10)]
    for i, r in enumerate(rng.sample(rows, n // 20 + n * 3 // 100)):
        orphan = i >= n // 20
        staging.append(dict(r, o_orderkey=next_key + i,
                            o_custkey=missing_cust + i if orphan else rng.choice(cust_keys)))
    gated = [r for r in staging if r["o_custkey"] < missing_cust]
    retained = [r for r in staging if r["o_custkey"] >= missing_cust]
    replaced = {r["o_orderkey"] for r in gated}
    target = [r for r in rows if r["o_orderkey"] not in replaced] + gated
    return tuple(pa.Table.from_pylist(t, orders.schema) for t in (staging, target, retained))


def _table_digest(table: pa.Table) -> dict:
    cols = table.column_names
    return digest([tuple(r[c] for c in cols) for r in table.to_pylist()], cols)


class WriteFixtures:
    """Seeded inputs of the two writes, and fresh targets for each pass.

    The constructor draws, from ``rng``, the rows a users target is
    prefilled with (stale rows for some source keys, which the batch ETL
    must overwrite, and rows for keys outside the source, which it must
    keep) and a staging batch of order updates, inserts and orphans
    (orders whose customer does not exist). It derives the expected
    contents after each write from them, without Spark.

    ``prepare`` lays the same starting state out under a new directory:
    the prefilled users target and a ``TableGroup`` holding ``parent`` =
    customer, ``target`` = orders and ``staging`` = the batch. The group
    is published once per run and cloned for every pass: a clone is a
    copy of the group's manifests, sharing its immutable data files, and
    the reconcile writes its new version under the clone.
    """

    def __init__(self, data_dir: str, rng: random.Random):
        self.data_dir = data_dir
        stale = sorted(rng.sample(range(N_KEYS), N_STALE_USERS))
        extra = sorted(rng.sample(range(1000, 2000), N_EXTRA_USERS))
        self.prefill = pa.table({
            "user_key": pa.array(stale + extra, pa.int64()),
            "user_id": pa.array(stale + extra, pa.int64()),
            "user_payload": [f"stale-{k}" for k in stale + extra],
        })
        self.expected_users = sorted((k, k) for k in list(range(N_KEYS)) + extra)
        self.expected_meetings = digest(
            [(k, f"mtg-{k}-{m}", k * 10 + m)
             for k in range(N_KEYS) for m in range(k % 4 + 1)],
            ["user_key", "meeting_uuid", "duration"])
        orders = pq.read_table(os.path.join(data_dir, "orders.parquet"))
        customer = pq.read_table(os.path.join(data_dir, "customer.parquet"))
        self.staging, target, retained = _staging_batch(orders, customer, rng)
        self.expected_target = _table_digest(target)
        self.expected_retained = _table_digest(retained)
        self.pristine = None  # the published starting group, once prepared

    def prepare(self, spark, root: str) -> None:
        from zoom_etl_spark.operators.txn import TableGroup

        self.root = root
        self.user_target = os.path.join(root, "users")
        self.meeting_target = os.path.join(root, "meetings")
        os.makedirs(self.user_target)
        pq.write_table(self.prefill, os.path.join(self.user_target, "part-0.parquet"))
        if self.pristine is None:
            self.pristine = os.path.join(os.path.dirname(root), "pristine-group")
            staging_path = os.path.join(self.pristine, "staging_batch")
            os.makedirs(staging_path)
            pq.write_table(self.staging, os.path.join(staging_path, "part-0.parquet"))
            TableGroup(self.pristine).publish({
                "parent": spark.read.parquet(os.path.join(self.data_dir, "customer.parquet")),
                "target": spark.read.parquet(os.path.join(self.data_dir, "orders.parquet")),
                "staging": spark.read.parquet(staging_path),
            })
        shutil.copytree(os.path.join(self.pristine, "_versions"),
                        os.path.join(root, "group", "_versions"))
        self.group = TableGroup(os.path.join(root, "group"))

    # ------------------------------------------------------------ writes

    def batch_etl(self, spark) -> dict:
        from zoom_etl_spark import etl
        return etl.run_batch_etl(spark, self.user_target, self.meeting_target,
                                 n_keys=N_KEYS)

    def reconcile(self, spark) -> dict:
        from zoom_etl_spark import etl
        return etl.reconcile_staging(
            spark, self.group, staging_parent_key="o_custkey",
            parent_key="c_custkey", merge_keys=["o_orderkey"])

    def check_batch_etl(self, spark, result: dict) -> None:
        want = {"users": len(self.expected_users),
                "meetings": self.expected_meetings["rows"]}
        if result != want:
            raise CheckFailed(f"batch_etl returned {result}, expected {want}")
        users = spark.read.parquet(self.user_target).collect()
        got = sorted((r["user_key"], r["user_id"]) for r in users)
        if got != self.expected_users:
            raise CheckFailed("batch_etl users target differs")
        if any(r["user_key"] < N_KEYS and r["user_payload"].startswith("stale")
               for r in users):
            raise CheckFailed("batch_etl left stale users in the target")
        meetings = spark.read.parquet(self.meeting_target)
        if frame_digest(meetings) != self.expected_meetings:
            raise CheckFailed("batch_etl meetings target differs")

    def check_reconcile(self, spark, result: dict) -> None:
        if result["target_rows"] != self.expected_target["rows"] or \
                result["retained_rows"] != self.expected_retained["rows"]:
            raise CheckFailed(f"reconcile returned {result}")
        if frame_digest(self.group.read(spark, "target")) != self.expected_target:
            raise CheckFailed("reconcile target contents differ")
        if frame_digest(self.group.read(spark, "staging")) != self.expected_retained:
            raise CheckFailed("reconcile retained staging differs")
