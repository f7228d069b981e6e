from .timefn import dow_pandas, time_features  # noqa: F401
from .scoring import (  # noqa: F401
    clip01,
    deviation_ratio,
    fuse_scores,
    high_amount_override,
    inv_sigmoid,
    risk_level,
    rule_flags,
    rule_score,
)
from .vectorfn import cosine_similarity, dot, l2_norm  # noqa: F401
