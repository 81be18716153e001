from concurrent_etl_go_spark.sources.readers import (
    read_appliances_csv,
    read_table,
    register_views,
)

__all__ = [
    "read_appliances_csv",
    "read_table",
    "register_views",
]
