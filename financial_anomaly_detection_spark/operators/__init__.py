from .profiles import (  # noqa: F401
    customer_profile,
    merchant_profile,
    with_profiles,
    with_window_profiles,
)
