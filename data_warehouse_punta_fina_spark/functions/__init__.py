from data_warehouse_punta_fina_spark.functions.dates import (  # noqa: F401
    date_key,
    is_weekend,
    iso_dow,
    period_key,
    period_of_date_key,
    spanish_day_name,
    spanish_month_name,
)
from data_warehouse_punta_fina_spark.functions.money import (  # noqa: F401
    IVA_RATE,
    extract_iva,
    money,
)
from data_warehouse_punta_fina_spark.functions.strings import (  # noqa: F401
    auto_id,
    coded_id,
    contains_ci,
    extract_int,
    first_token,
    full_name,
    name_or_default,
    truthy_bool,
)
from data_warehouse_punta_fina_spark.functions.text import (  # noqa: F401
    bpe_ish_token_count,
    fingerprint,
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
    tokens,
    word_shingles,
)
from data_warehouse_punta_fina_spark.functions.vectors import (  # noqa: F401
    cosine_q,
    dot_q,
    norm_sq_q,
    quantize,
)
