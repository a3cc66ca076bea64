from importer_spark.streaming.incremental import (  # noqa: F401
    stream_events,
    windowed_event_counts,
)
