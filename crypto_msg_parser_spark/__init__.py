"""crypto_msg_parser_spark — a from-scratch PySpark-native engine with the
capabilities of crypto-crawler/crypto-msg-parser (reference studied read-only
at /root/reference; blueprint in SURVEY.md).

Layout:
  session    -- SparkSession factory tuned for local[N] and cluster parity
  pydaemon   -- the local session's Python daemon (no per-task zip re-read)
  schemas    -- fixed StructTypes for all normalized record tables (SURVEY §1.3)
  functions/ -- scalar column expressions (round9, hashing)
  operators/ -- dedup, similarity, text stats, multimodal plumbing
  sources/   -- testdata loaders, raw-message synthesis
  plans/     -- exact integer money arithmetic shared by market rows
  parser/    -- router + vectorized per-exchange normalization (SURVEY §2.2-2.3)
  crawl/     -- URL canonicalization, frontier seen-set, politeness scheduler
  streaming/ -- Structured Streaming variants + keyed-state operators
"""

__version__ = "0.1.0"
