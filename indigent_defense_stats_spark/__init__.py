"""indigent_defense_stats_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the capabilities of the reference pipeline
(open-austin/indigent-defense-stats, a sequential single-process
web-crawl + parse + clean + publish system; see /root/repo/SURVEY.md)
as a distributed Spark DataFrame program:

- ``plans.frontier``   — distributed URL frontier: canonicalization,
  exact anti-join URL-seen filter, robots.txt compliance, per-host
  politeness token bucket, priority ordering, deterministic wave loop
  with checkpoint/resume (reference: src/scraper/__init__.py:568-588).
- ``operators.parse``  — vectorized span-sequence -> typed case-record
  parser (reference: src/parser/hays.py).
- ``operators.clean``  — redaction / charge enrichment / motions
  semi-join (reference: src/cleaner/__init__.py).
- ``operators.publish``— content-hash dedup + versioned upsert
  (reference: src/updater/__init__.py).
- ``operators.analytics`` — event/charge flattening + stats
  (reference: src/tools/build_event_csv.py, print_stats.py).
- ``operators.dedup`` / ``operators.similarity`` /
  ``operators.textstats`` / ``operators.multimodal`` — the
  training-data-pipeline layer (exact + MinHash/SimHash/Jaccard dedup,
  ANN similarity search, language id / quality / token stats, and
  the mugshot/document-image media plumbing: PNG and baseline JPEG).

Everything is DataFrame-first: built-in ``pyspark.sql.functions``
where expressible, Arrow-vectorized pandas UDFs otherwise, never
per-row Python in the hot path.
"""

__version__ = "0.1.0"
