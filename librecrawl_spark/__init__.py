"""librecrawl_spark — a PySpark-native batch URL-frontier + fetch-scheduler
engine with the query/data-processing capabilities of LibreCrawl
(reference: alok-ahirrao/LibreCrawl, studied read-only at /root/reference).

This is NOT a port: the reference is a threaded, row-at-a-time Python
crawler; this engine declares every stage (fetch-join, extraction,
link explosion, URL cleaning, dedup, politeness scheduling, issue
detection) as DataFrame plans so Catalyst/Tungsten/AQE pick the physical
strategy, with Arrow-vectorized pandas UDFs only where Spark has no
builtin (urljoin/robots matching/span parsing).
"""

__version__ = "0.1.0"
