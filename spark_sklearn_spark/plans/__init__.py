"""Physical-plan inspection utilities."""

from .inspect import (  # noqa: F401
    BOUNDED_DOMAIN_HINTS,
    assert_scalable,
    bounded_key_windows,
    executed_plan,
    pushed_filters,
    read_schema,
    scale_killers,
    window_partitions,
    window_partitions_from_text,
)
