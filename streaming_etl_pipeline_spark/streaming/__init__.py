from streaming_etl_pipeline_spark.streaming.ingest import (  # noqa: F401
    EVENT_SCHEMA,
    KAFKA_WIRE_SCHEMA,
    MetricsListener,
    kafka_reader_options,
    parse_events,
    project_kafka,
    read_json_stream,
    read_kafka_stream,
    start_bronze_sink,
    start_dead_letter_sink,
    start_gold_upsert_sink,
)
