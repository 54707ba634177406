from change_data_capture_poc_spark.sources.tables import (  # noqa: F401
    TABLES,
    load_table,
    register_views,
    stream_table,
)
