"""Pure NumPy codec kernels (no Spark imports) + the codec registry."""

from .registry import (  # noqa: F401
    BY_ID,
    MAX_EFFORT_CODECS,
    PROBE_CODECS,
    REGISTRY,
    TIERS,
    Codec,
)
