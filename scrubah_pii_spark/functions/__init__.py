"""Native pyspark.sql column programs for content hashing, which dedup uses as
plan keys. Per-document quality, langid and relevance have one implementation
each: the pure ``core/`` kernels, run inside Arrow UDFs."""
