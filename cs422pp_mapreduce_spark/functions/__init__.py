from .numeric import (
    CHARGE_SQL, DISC_PRICE_SQL, DISC_REV_SQL, charge_dec, comoment,
    comoment_sql, disc_price_dec, disc_rev_dec, exact_avg, exact_avg_sql,
    exact_int, exact_sum, exact_sum_over, exact_sum_over_sql, exact_sum_sql,
    exact_sum_wide, exact_sum_wide_sql, fine_sum, fine_sum_sql, fixed_long,
    fixed_long_sql, long_dec, money_dec, money_dec_sql, quantized,
    quantized_sql, rate_dec, rate_dec_sql, rate_long, rate_long_sql,
    spark_exact_sum_over_sql, spark_exact_sum_sql,
)
from .text import (
    nonempty_tokens,
    token_count_ws,
    token_count_bpe,
    fingerprint_md5,
    lang_id_expr,
    md5_bucket,
    md5_int,
    quality_score_cols,
)

__all__ = [
    "CHARGE_SQL", "DISC_PRICE_SQL", "DISC_REV_SQL", "charge_dec", "comoment",
    "comoment_sql", "disc_price_dec", "disc_rev_dec", "exact_avg",
    "exact_avg_sql", "exact_int", "exact_sum", "exact_sum_over",
    "exact_sum_over_sql", "exact_sum_sql", "exact_sum_wide",
    "exact_sum_wide_sql", "fine_sum", "fine_sum_sql", "fixed_long",
    "fixed_long_sql", "long_dec", "money_dec", "money_dec_sql", "quantized",
    "quantized_sql", "rate_dec", "rate_dec_sql", "rate_long", "rate_long_sql",
    "spark_exact_sum_over_sql", "spark_exact_sum_sql",
    "nonempty_tokens",
    "token_count_ws",
    "token_count_bpe",
    "fingerprint_md5",
    "lang_id_expr",
    "md5_bucket",
    "md5_int",
    "quality_score_cols",
]
