from crawl4ai_spark.operators.politeness import rank_by_host_budget, update_host_state  # noqa: F401
from crawl4ai_spark.operators.bloom import build_bloom_shards, bloom_prefilter  # noqa: F401
