"""sparktika — a PySpark-native document-extraction engine.

Built from scratch with the capabilities of the reference extractor
(nddipiazza/tika-fork v1.0b15): MIME sniffing, charset detection, HTML
body-text + link extraction, PDF content-stream text extraction,
boilerplate stripping, safety guards (size/char caps, depth/ratio bombs,
per-doc deadlines), plus the relational bookkeeping a web-scale corpus
pipeline needs (dedup, resume anti-join, per-partition metrics).

Layout:
  kernels/   pure-Python, Spark-free document kernels (unit-testable)
  pipeline/  Spark wiring: mapInArrow map stages (one row-map boundary,
             arrowmap.py), dedup, similarity search, text stats,
             metrics, resume, IO
  synth.py   deterministic synthetic `pages` corpus (no external data)
  zipreread.py  warm reused Python workers (installed at import)
"""

from .zipreread import reread_zips_only_when_changed

__version__ = "0.1.0"

# every Python worker that runs sparktika code imports this package first
reread_zips_only_when_changed()
