from news_lakehouse_spark.operators.windows import (  # noqa: F401
    dedupe_latest,
    top_k_per_group,
)
from news_lakehouse_spark.operators.merge import (  # noqa: F401
    merge_insert_only,
    merge_upsert,
)
from news_lakehouse_spark.operators.dedupe import (  # noqa: F401
    exact_dedupe,
    exact_dedupe_deterministic,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_signatures,
)
from news_lakehouse_spark.operators.similarity import (  # noqa: F401
    cosine_topk_bruteforce,
    lsh_bucketed_topk,
)
from news_lakehouse_spark.operators.textmetrics import (  # noqa: F401
    document_fingerprint,
    language_scores,
    quality_metrics,
)
