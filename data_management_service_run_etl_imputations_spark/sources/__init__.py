from data_management_service_run_etl_imputations_spark.sources.readers import (
    csv_source,
    date_spine,
    jdbc_source,
    parquet_source,
    union_param_sweep,
)
from data_management_service_run_etl_imputations_spark.sources.sinks import (
    incremental_insert_only,
)

__all__ = [
    "csv_source",
    "date_spine",
    "jdbc_source",
    "parquet_source",
    "union_param_sweep",
    "incremental_insert_only",
]
