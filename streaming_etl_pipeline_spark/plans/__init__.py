from streaming_etl_pipeline_spark.plans.corpus import (  # noqa: F401
    QUERIES,
    QuerySpec,
    queries,
)
