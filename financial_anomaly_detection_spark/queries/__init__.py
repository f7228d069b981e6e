"""Named query registry — the engine's public query corpus.

Split into per-family modules in round 10 (the monolith had grown to
16.6k lines); the public surface is unchanged: REGISTRY, queries(),
oracle_sql(), load_table and every helper import exactly as before
via ``financial_anomaly_detection_spark.queries``. Family modules
register their queries on import; ``queries()`` and ``oracle_sql()``
(in common.py) list oracle-backed entries first, then rows-only ones,
each group in registration order.
"""

from __future__ import annotations

from .common import *  # noqa: F401,F403

# Import order = REGISTRY registration order, which queries() keeps
# within its oracle-backed and rows-only groups.
from . import relational  # noqa: F401,E402
from . import profiles_scoring  # noqa: F401,E402
from . import ml_eval  # noqa: F401,E402
from . import text_curation  # noqa: F401,E402
from . import dedup_similarity  # noqa: F401,E402
from . import graph  # noqa: F401,E402
from . import sketches  # noqa: F401,E402
from . import multimodal  # noqa: F401,E402
from . import product_analytics  # noqa: F401,E402
from . import storage_layout  # noqa: F401,E402
