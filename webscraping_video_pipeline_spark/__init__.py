"""webscraping_video_pipeline_spark — a PySpark-native web-crawl frontier engine.

A brand-new engine (NOT a port) with the query and data-processing
capabilities of the reference scraping pipeline
``melthu/Webscraping-Video-Pipeline``, re-expressed Spark-first:

- ``schemas``     — explicit StructTypes for every engine table
- ``synth``       — deterministic synthetic ``pages``/``seeds``/policy fixtures
- ``catalog``     — parquet checkpointed storage with atomic rounds
- ``functions``   — vectorized UDFs + column expressions (canonicalize, extract,
                    scalar parsers, text analysis, sketches)
- ``operators``   — dedup (exact / Bloom / MinHash-LSH / SimHash), politeness
                    scheduling, robots filtering, priority frontier, similarity
                    search, as-of joins
- ``plans``       — the crawl-round orchestration loop (resumable, metered)
- ``streaming``   — Structured Streaming variants (windows, watermarks, state)

Design notes are in SURVEY.md; every operator cites the reference behavior
(file:line) it preserves.
"""

__version__ = "0.1.0"
