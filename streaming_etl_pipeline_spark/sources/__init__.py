from streaming_etl_pipeline_spark.sources.io import (  # noqa: F401
    TABLES,
    compact,
    read_table,
    spread,
    write_partitioned,
)
