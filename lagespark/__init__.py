"""lagespark — a PySpark-native spatial-join + tiling engine.

Re-creates the compensation-area ("Lagefaktor") pipeline of the reference
project Gunther-Schulz/gis-lagefaktor (see /root/reference/README.md:1 — the
checkout carries no source; behavior is specified by BASELINE.json and
SURVEY.md) as idiomatic PySpark: DataFrame-declared plans, cell-indexed
broadcast/shuffle spatial joins, vectorized numpy kernels inside Arrow-batched
pandas UDFs, explicit skew salting, and checkpoint/resume manifests.

All geometry and image-codec kernels are written from scratch in numpy
(no shapely / h3 / Pillow in this environment — SURVEY.md §0).
"""

from lagespark import _zipcache

_zipcache.install()

__version__ = "0.1.0"
