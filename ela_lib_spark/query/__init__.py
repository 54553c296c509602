from ela_lib_spark.query.bm25 import bm25_topk_flat, flat_postings, prepare_flat  # noqa: F401
from ela_lib_spark.query.scoring import bm25_contrib, idf as bm25_idf  # noqa: F401
from ela_lib_spark.query.wand import wand_topk  # noqa: F401
