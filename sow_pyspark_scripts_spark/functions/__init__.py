from .det import mean_grid, mean_grid_sql, quant
from .scalar import (
    empty_to_null,
    is_federal_flag,
    like_flag,
    month_year,
    not_like_all,
    tat_days,
)
from .text import (
    bpe_ish_token_count,
    doc_fingerprint,
    lang_id,
    normalize_text,
    quality_score,
    token_count,
)

__all__ = [
    "mean_grid",
    "mean_grid_sql",
    "quant",
    "empty_to_null",
    "is_federal_flag",
    "like_flag",
    "month_year",
    "not_like_all",
    "tat_days",
    "bpe_ish_token_count",
    "doc_fingerprint",
    "lang_id",
    "normalize_text",
    "quality_score",
    "token_count",
]
