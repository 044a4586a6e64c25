from goconnect_spark.functions import serde

__all__ = ["serde"]
