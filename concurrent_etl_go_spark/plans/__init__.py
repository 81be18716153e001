from concurrent_etl_go_spark.plans.etl_pipeline import (
    flagship,
    route_lanes,
    transform_cpu_stats,
)

__all__ = ["flagship", "route_lanes", "transform_cpu_stats"]
