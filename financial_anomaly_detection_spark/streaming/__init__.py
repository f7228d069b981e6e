from .score_stream import (  # noqa: F401
    build_scoring_stream,
    split_valid_invalid,
)
