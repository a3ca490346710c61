from gp_ann_spark.streaming.ingest import ingest_stream  # noqa: F401
