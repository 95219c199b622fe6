"""scrubah_pii_spark — PySpark-native langid + quality-filter + medical-PII-scrub engine.

A from-scratch, Spark-first reimplementation of the query/data-processing
capabilities of the reference app Heyoub/scrubah.pii (a TypeScript/Effect-TS
browser pipeline). The reference defines WHAT is computed (regex scrub cascade,
keep/drop relevance scoring, quality gates, dedup fingerprints, template
stripping); this package re-expresses it as DataFrame programs + vectorized
pandas/Arrow UDFs designed for 100 TB-scale Common-Crawl-style webtext.

Layout:
  core/       pure-Python kernels (unit-testable; shipped into pandas UDFs)
  functions/  native hashing column programs (dedup plan keys)
  operators/  DataFrame-level operators (scrub, dedup, similarity, template)
  sources/    synthetic webpage generator + IO (partitioned parquet, manifest)
  plans/      end-to-end pipeline assembly (extract→langid→quality→scrub→dedup→write)
  streaming/  Structured Streaming variant of the pipeline
"""

__version__ = "0.1.0"
