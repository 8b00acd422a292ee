"""webcrawlerfull_spark — a from-scratch PySpark-native rebuild of the
crawl/parse/dedup semantics of ujjwalRajputGit/WebcrawlerFull.

Reference (read-only, /root/reference) is a Celery/Redis/Mongo service
stack; this package replaces it with DataFrame-resident state:

- ``operators.parse_spans``   — HTML → interleaved spans (the input_hint payload)
- ``functions.urlnorm``       — URL normalization as native Spark columns
- ``functions.predicates``    — pagination / product / category predicates
- ``functions.robots``        — robots.txt rules and the per-round robots gate
- ``streaming.driver``        — micro-batch crawl loop with resume
- ``streaming.delta_frontier`` — the budgeted per-host queue and its politeness order
- ``operators.bloom``         — partitioned bloom URL-seen filter
- ``oracle``                  — vendored single-process reference semantics
  (the pytest golden oracle; intentionally NOT Spark)
"""

__version__ = "0.1.0"
