from .buckets import segment_bucket, capacity_for_segment  # noqa: F401
