from .encode_stream import encode_stream_job  # noqa: F401
