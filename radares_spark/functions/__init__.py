from radares_spark.functions.cleaning import (
    clean_direction,
    split_time_range,
    with_slot_start,
)
from radares_spark.functions.histogram import (
    bins_long,
    speeding_ratio,
    weighted_mean_speed,
)

__all__ = [
    "clean_direction",
    "split_time_range",
    "with_slot_start",
    "bins_long",
    "speeding_ratio",
    "weighted_mean_speed",
]
