from .banding import AQI_BANDS, TEMP_BANDS, aqi_band, band, temp_category
from .scoring import POLLUTION_WEIGHTS, pollution_score, weighted_score
from .timeparts import calendar_parts, with_calendar_parts

__all__ = [
    "AQI_BANDS",
    "TEMP_BANDS",
    "POLLUTION_WEIGHTS",
    "aqi_band",
    "band",
    "temp_category",
    "pollution_score",
    "weighted_score",
    "calendar_parts",
    "with_calendar_parts",
]
