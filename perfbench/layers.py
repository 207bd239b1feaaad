"""Single-layer measurements for the traced runs.

Each one drives one layer through its public entry point on a fixed
input, so its rate can be set against the end-to-end number it feeds:

- ``operators.project``: ``parse_stream`` → ``apply_projection``, noop write;
- ``operators.sharding``: the same plus ``add_shard_column``;
- ``chproto``: ``encode_block_arrow`` on a fixed Arrow batch of projected rows;
- ``functions.chdialect``: ``translate_ch_sql`` with catalog info over every
  ``CH_DIALECT_*`` string of the query library;
- the single-core baseline: a fixed backlog slice drained on ``local[1]``.
"""

from __future__ import annotations

import os
import time

from common import percentile
from tables import TABLES

LAYER_FILES = 2  # backlog files read by the operator benches (2^17 rows)
ENCODE_ROWS = 1 << 14
ENCODE_SECONDS = 1.0


def _raw_batch(spark, paths):
    """The staged files as a batch frame shaped like ``file_source``."""
    from pyspark.sql import functions as F

    return spark.read.text(paths).select(
        F.lit("file").alias("topic"),
        F.spark_partition_id().alias("partition"),
        F.xxhash64(F.col("value")).alias("offset"),
        F.lit(None).cast("binary").alias("key"),
        F.col("value").cast("binary").alias("value"),
        F.current_timestamp().alias("timestamp"),
    )


def _noop_rate(df, rows: int) -> float:
    """Rows/s of a noop write of ``df``: one untimed run, then one timed."""
    df.write.format("noop").mode("overwrite").save()
    t = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return rows / (time.monotonic() - t)


def ingest_layer_benches(ctx, out, backlog_dir: str, warm_dir: str, sink_fn) -> None:
    import ingest
    from clickhouse_sinker_spark.operators.project import apply_projection
    from clickhouse_sinker_spark.operators.sharding import ShardingPolicy, add_shard_column
    from clickhouse_sinker_spark.streaming.pipeline import parse_stream

    spark = ctx.session()
    paths = [os.path.join(backlog_dir, f"part-{i:05d}.json") for i in range(LAYER_FILES)]
    rows = LAYER_FILES * ingest.ROWS_PER_FILE
    schema = ingest.parse_schema(ingest.INGEST_FIELDS)
    specs = ingest.column_specs(ingest.INGEST_FIELDS)
    with ctx.tracer.span("operators.project:bench"):
        projected = apply_projection(parse_stream(_raw_batch(spark, paths), schema), specs)
        out.layers["project.rows_per_s"] = _noop_rate(projected, rows)
    with ctx.tracer.span("operators.sharding:bench"):
        sharded = add_shard_column(projected, ShardingPolicy(key="@lineno"), ingest.SHARDS)
        out.layers["shard.rows_per_s"] = _noop_rate(sharded, rows)
    with ctx.tracer.span("chproto:bench"):
        out.layers["chproto.encode_rows_per_s"] = _encode_rate(projected)
    out.layers["scaling.one_core_rows_per_s"] = _one_core_rate(ctx, backlog_dir, warm_dir,
                                                                sink_fn)


def _encode_rate(projected) -> float:
    """Rows/s of ``encode_block_arrow`` on a fixed batch, typed the way
    ``NativeHttpSink`` types it (timestamps as epoch-µs DateTime64(6))."""
    from pyspark.sql import functions as F

    from clickhouse_sinker_spark.chproto import encode_block_arrow
    from clickhouse_sinker_spark.sources.systemviews import spark_to_ch_type

    part = projected.limit(ENCODE_ROWS)
    exprs, fields = [], []
    for f in part.schema.fields:
        col = F.col(f"`{f.name}`")
        if f.dataType.typeName() == "timestamp":
            col = F.unix_micros(col)
        exprs.append(col.alias(f.name))
        fields.append((f.name, spark_to_ch_type(f.dataType, f.nullable, "DateTime64(6)")))
    batch = part.select(*exprs).toArrow().combine_chunks()
    n, t = 0, time.monotonic()
    while time.monotonic() - t < ENCODE_SECONDS:
        encode_block_arrow(fields, batch)
        n += batch.num_rows
    return n / (time.monotonic() - t)


def _one_core_rate(ctx, backlog_dir: str, warm_dir: str, sink_fn) -> float:
    """The ingest path on ``local[1]``: one warm-up drain of the set-up
    slice, then one backlog file (one trigger) timed.  Restarts the session."""
    import ingest

    ctx.stop_session()
    spark = ctx.session(cores=1)
    one = os.path.join(ctx.run_dir, "one-core")
    os.makedirs(one, exist_ok=True)
    os.link(os.path.join(backlog_dir, "part-00000.json"), os.path.join(one, "part-00000.json"))
    pipe = ingest.make_pipeline(spark, ctx.tracer, warm_dir, ingest.FILES_PER_TRIGGER)
    with ctx.tracer.root("streaming.pipeline:run_available", phase="one_core_setup"):
        pipe.run_available(sink_fn, os.path.join(ctx.run_dir, "ckpt-one-warm"))
    pipe = ingest.make_pipeline(spark, ctx.tracer, one, 1)
    t = time.monotonic()
    with ctx.tracer.root("streaming.pipeline:run_available", phase="one_core"):
        pipe.run_available(sink_fn, os.path.join(ctx.run_dir, "ckpt-one"))
    rate = ingest.ROWS_PER_FILE / (time.monotonic() - t)
    ctx.stop_session()
    return rate


def translate_bench(spark, out) -> None:
    """``translate_ch_sql`` over every CH_DIALECT_* string, with the
    catalog info ``ch_sql`` passes."""
    from clickhouse_sinker_spark.functions import chdialect
    from clickhouse_sinker_spark.plans import queries

    sqls = [v for k, v in vars(queries).items() if k.startswith("CH_DIALECT_")
            and isinstance(v, str)]
    arr, tbl, strs = chdialect.spark_catalog_info(spark, TABLES)
    times = []
    for sql in sqls:
        t = time.monotonic()
        chdialect.translate_ch_sql(sql, array_columns=arr, table_columns=tbl,
                                   string_columns=strs)
        times.append(time.monotonic() - t)
    out.layers["chdialect.translate_ms_p50"] = percentile(times, 50) * 1000
    out.layers["chdialect.translate_s"] = sum(times)
    out.notes["chdialect_strings"] = len(sqls)
