from .drift import (  # noqa: F401
    chisq_quantized,
    drift_sink,
    stateful_channel_counts,
)
from .relational import (  # noqa: F401
    dedup_stream,
    stream_stream_purchase_click,
)
from .score_stream import (  # noqa: F401
    build_scoring_stream,
    split_valid_invalid,
    stateful_user_profiles,
)
