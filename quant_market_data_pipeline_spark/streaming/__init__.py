"""Structured Streaming surface (SURVEY §2.8).

The reference emulates streaming with a daily batch cron
(/root/reference/dags/quant_pipeline_dag.py:21); the engine provides the
real thing: file-source readStream over a landing zone, watermarked
tumbling-window bar building, stateful dedup, and idempotent foreachBatch
sinks (``bars_stream.parquet_bar_sink``).

``bars_stream.fold_stream`` drains a stream under ``availableNow`` into
per-batch partials through the same batch-leaf writer, for mergeable
summaries (sketches, signatures, index codes) merged at read-out.

``bars_stream.start_stream`` starts every engine stream, with its shuffle
(and state) partitions capped at the core count."""
