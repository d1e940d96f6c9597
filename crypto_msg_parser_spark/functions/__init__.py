from crypto_msg_parser_spark.functions.scalar import (  # noqa: F401
    round9,
    stable_hash64,
)
