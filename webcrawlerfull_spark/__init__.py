"""webcrawlerfull_spark — a from-scratch PySpark-native rebuild of the
crawl/parse/dedup semantics of ujjwalRajputGit/WebcrawlerFull.

Reference (read-only, /root/reference) is a Celery/Redis/Mongo service
stack; this package replaces it with DataFrame-resident state:

- ``operators.parse_spans``   — HTML → interleaved spans (the input_hint payload)
- ``functions.urlnorm``       — URL normalization as native Spark columns
- ``functions.predicates``    — pagination / product / category predicates
- ``plans.round``             — schedule-side round operators (politeness, robots)
- ``streaming.driver``        — micro-batch crawl loop with resume
- ``operators.bloom``         — partitioned bloom URL-seen filter
- ``oracle``                  — vendored single-process reference semantics
  (the pytest golden oracle; intentionally NOT Spark)
"""

__version__ = "0.1.0"
