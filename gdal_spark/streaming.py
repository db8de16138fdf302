"""Structured Streaming surface — the events rollup as a stream.

The reference engine is batch-only (SURVEY §2.10); this module adds the
Spark-native streaming path for the same rollup the batch
``events_window`` query computes: ``readStream`` over an events
directory (file source — the Iceberg-snapshot-tail stand-in), event-time
TUMBLING WINDOWS with a WATERMARK for late data, aggregation output.

Deterministic testing shape: Trigger.AvailableNow drains the directory
as one micro-batch sequence and stops, so the streaming result can be
compared 1:1 against the batch groupBy (tests/test_streaming.py).

Scale notes: the streaming agg shuffles once on (window, event_type)
exactly like the batch plan; state store size is bounded by
(#windows-in-watermark x #types).  Custom stateful operators beyond
windowed aggs would go through applyInPandasWithState on the same
partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_events_rollup(
    spark: SparkSession,
    events_dir: str,
    schema,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming DataFrame: hourly (window-start, event_type) counts and
    value sums with a late-data watermark.  Caller attaches the sink
    (memory/parquet) and trigger."""
    src = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks need session-tz TIMESTAMP; parquet stores TIMESTAMP_NTZ
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour_ts"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming per-user sessions via the built-in
    ``session_window(ts, gap)`` aggregation (merging windows, watermark
    closes sessions) — the streaming twin of the batch ``sessionize``
    registry query.  session_window's window.end is last-event + gap, so
    the batch-parity mapping is session_end = window.end - gap
    (pinned in tests/test_streaming.py)."""
    src = spark.readStream.schema(schema).parquet(events_dir)
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        src.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("CAST(round(value * 1.0e4) AS BIGINT)")).alias(
                "value_4"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            (F.col("w.end") - F.expr(f"INTERVAL {gap}")).alias("session_end"),
            "n_events",
            "value_4",
        )
    )


def run_available_now(stream_df: DataFrame, query_name: str):
    """Drain the source with Trigger.AvailableNow into a memory sink and
    block until done; returns the started (finished) query."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def stream_dedup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    n_buckets: int = 64,
):
    """Custom STATEFUL streaming operator: cross-micro-batch exact dedup
    (the streaming twin of the batch ``dedup_exact`` query) through
    ``applyInPandasWithState`` — the extension point the reference's
    batch-only engine has no analog for (SURVEY §2.10).

    Shape: docs stream -> md5(text) content hash -> groupBy hash BUCKET
    (stable xxhash64 % n_buckets, so state partitioning survives any
    input order) -> per-bucket GroupState holding the set of seen hashes;
    a doc is emitted only the first time its hash appears across the
    whole stream's lifetime.  State size is bounded by distinct-hash
    count / n_buckets per group; at scale n_buckets rises with
    parallelism and the state store shards with the shuffle.

    Returns the streaming DataFrame (doc_id, h) of first-seen docs;
    caller attaches sink + trigger (Trigger.AvailableNow in tests).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    src = spark.readStream.schema(schema).parquet(docs_dir)
    hashed = src.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.col("text")).alias("h"),
        (F.abs(F.xxhash64(F.md5(F.col("text")))) % n_buckets).alias("bucket"),
    )

    out_schema = StructType(
        [StructField("doc_id", LongType()), StructField("h", StringType())]
    )
    state_schema = StructType([StructField("seen", StringType())])

    # hint-free signature: applyInPandasWithState does no hint-based
    # dispatch, and a PARTIAL annotation set (state only) trips pandas
    # eval-type inference into a "Cannot infer the eval type" warning
    def dedup_fn(key, pdfs, state):
        seen = set()
        if state.exists:
            (blob,) = state.get
            if blob:
                seen = set(blob.split(","))
        for pdf in pdfs:
            # within a batch keep the min doc_id per new hash
            pdf = pdf.sort_values("doc_id")
            fresh = pdf[~pdf["h"].isin(seen) & ~pdf.duplicated("h")]
            if len(fresh):
                seen.update(fresh["h"].tolist())
                yield fresh[["doc_id", "h"]]
        state.update((",".join(sorted(seen)),))

    return (
        hashed.groupBy("bucket")
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .select("doc_id", "h")
    )


def stream_pip_counts(
    spark: SparkSession,
    docs_dir: str,
    zones: DataFrame,
    zoom: int | None = None,
) -> DataFrame:
    """Stream-static spatial join: a streaming corpus tail joined against
    the STATIC zone layer through the same cell-key broadcast + refine
    pipeline the batch ``pip_join`` uses (the join and the ray-cast
    refine are stateless, so they run unchanged inside micro-batches),
    then a streaming per-zone count.  For a streaming corpus
    ``pip_join`` keeps its zone cover on the executors, so each
    micro-batch reads the static zone layer anew (a batch call reads it
    once, when called).

    This is the "zonal counters over an arriving corpus" shape: state is
    one counter per zone (bounded by the method layer, not the stream),
    and each micro-batch shuffles once into the zone aggregation —
    identical to the batch plan, so batch/stream parity is testable 1:1
    (tests/test_streaming.py)."""
    from gdal_spark import corpus
    from gdal_spark.operators.pip_join import DEFAULT_ZOOM, pip_join

    schema = spark.read.parquet(docs_dir).schema
    src = spark.readStream.schema(schema).parquet(docs_dir)
    src = src.withColumn("lon", F.expr(corpus.LON_SQL)).withColumn(
        "lat", F.expr(corpus.LAT_SQL)
    )
    joined = pip_join(src, zones, zoom=zoom or DEFAULT_ZOOM)
    return joined.groupBy("zone_id").agg(F.count("*").alias("n_docs"))


def stream_neardup(
    spark: SparkSession,
    docs_dir: str,
    schema,
    num_perm: int = 16,
    bands: int = 4,
    ngram: int = 3,
    min_equal: int = 6,
    max_files_per_trigger: int | None = 1,
):
    """Cross-micro-batch NEAR-duplicate candidate detection — the
    streaming twin of the batch ``minhash_md5`` banded-LSH pipeline
    (operators/text.py:minhash_md5_pairs), parity-pinned set-equal to it
    in tests/test_streaming.py.

    Shape: the SAME whole-stage-codegen md5-MinHash signature kernel the
    batch path uses runs on the stream (pure column ops — streaming-
    safe), signatures explode to (band, bucket) LSH keys, and a
    per-(band, bucket) ``applyInPandasWithState`` group holds every
    (doc_id, signature) ever seen in that bucket; a new arrival is
    compared against the bucket's history (and earlier arrivals of the
    same micro-batch, in doc_id order) and emits (id_a, id_b, n_equal)
    candidates passing the ``min_equal`` signature-agreement gate.
    State per group is bounded by LSH bucket occupancy — the same
    "buckets stay small" property that bounds the batch self-join.  A
    pair caught by several bands emits once per band (the batch plan's
    dropDuplicates is the downstream distinct here — the parity test
    applies it).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from gdal_spark.operators.text import minhash_md5_signatures

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.parquet(docs_dir)
    sigs = minhash_md5_signatures(src, num_perm=num_perm, ngram=ngram)
    rows = num_perm // bands
    banded = sigs.select(
        "doc_id",
        F.expr("array_join(transform(sigs, x -> CAST(x AS STRING)), '|')").alias(
            "sig"
        ),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sigs")[b * rows + j].cast("string")
                                    for j in range(rows)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.bucket")

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("n_equal", IntegerType()),
            StructField("band", IntegerType()),
        ]
    )
    state_schema = StructType([StructField("seen", StringType())])

    # hint-free signature — see dedup_fn's note on eval-type inference
    def neardup_fn(key, pdfs, state):
        band = int(key[0])
        seen: list[tuple[int, str]] = []
        if state.exists:
            (blob,) = state.get
            if blob:
                seen = [
                    (int(p.split(":", 1)[0]), p.split(":", 1)[1])
                    for p in blob.split(";")
                ]
        out = []
        for pdf in pdfs:
            ids = pdf["doc_id"].astype(int).tolist()
            sgs = pdf["sig"].tolist()
            for k in sorted(range(len(ids)), key=lambda j: ids[j]):
                did, sig = ids[k], sgs[k]
                lanes = sig.split("|")
                for oid, osig in seen:
                    if oid == did:
                        continue
                    ne = sum(
                        1 for x, y in zip(osig.split("|"), lanes) if x == y
                    )
                    if ne >= min_equal:
                        a, b = (oid, did) if oid < did else (did, oid)
                        out.append((a, b, ne, band))
                seen.append((did, sig))
        state.update((";".join(f"{i}:{s}" for i, s in seen),))
        if out:
            yield pd.DataFrame(out, columns=["id_a", "id_b", "n_equal", "band"])

    return banded.groupBy("band", "bucket").applyInPandasWithState(
        neardup_fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
