from streaming_etl_pipeline_spark.sources.io import (  # noqa: F401
    TABLES,
    read_table,
    spread,
    write_partitioned,
)
