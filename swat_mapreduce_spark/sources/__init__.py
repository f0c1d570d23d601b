from swat_mapreduce_spark.sources.readers import (  # noqa: F401
    TABLES,
    read_manifest,
    read_table,
)
