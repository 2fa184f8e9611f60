from .state import RefetchConfig, seen_filter, trawl_candidates, trim_seen

__all__ = [
    "RefetchConfig",
    "seen_filter",
    "trawl_candidates",
    "trim_seen",
]
