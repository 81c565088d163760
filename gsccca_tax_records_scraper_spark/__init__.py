"""gsccca_tax_records_scraper_spark — a from-scratch PySpark-native crawl-frontier
and fetch-scheduler engine with the query/data-processing capabilities of
rishabhpundir/GSCCCA-Tax-Records-Scraper (reference at /root/reference, read-only).

NOT a port: the reference is a Django/Playwright control loop; this engine is
pyspark.sql DataFrames + vectorized pandas/Arrow UDFs over partitioned parquet
(Iceberg-style) tables. See SURVEY.md for the operator-by-operator mapping.

Layout:
  sitegen      — deterministic synthetic GSCCCA site (serp + detail pages)
  functions/   — URL canonicalization + field-extraction library (SURVEY §2.8)
  operators/   — dedup (exact + blocked-Bloom prefilter), politeness, scoring,
                 text dedup (minhash/simhash), similarity search (SURVEY §2)
  plans/       — epoch crawl driver with checkpoint/resume (SURVEY §3, T1-T6)
  sources/     — table readers/writers and checkpoint manifest
  simulator    — pure-Python single-threaded reference semantics (SURVEY §5.3)
"""

__version__ = "0.1.0"
