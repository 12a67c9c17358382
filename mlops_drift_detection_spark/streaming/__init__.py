from mlops_drift_detection_spark.streaming.drift_stream import (  # noqa: F401
    foreach_batch_validator,
    run_file_stream_validation,
)
