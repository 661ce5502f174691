from search_engine_spark.index.codec import (
    bm25_contrib,
    decode_blocks,
    varbyte_decode,
    varbyte_encode,
)

__all__ = [
    "bm25_contrib",
    "decode_blocks",
    "varbyte_decode",
    "varbyte_encode",
]
