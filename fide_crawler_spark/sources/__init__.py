from fide_crawler_spark.sources.snapshot import SnapshotTable  # noqa: F401
