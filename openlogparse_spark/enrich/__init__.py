from openlogparse_spark.enrich.stage import enrich_stage, read_dim  # noqa: F401
