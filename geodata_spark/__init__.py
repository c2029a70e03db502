"""geodata_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch reimplementation of the query semantics of
GeodataTools/geodata (gridded-variable extraction, mask/shape zonal
aggregation, wind/solar cutout conversion) as first-class Spark
DataFrame operators over a catalog of interleaved text+media documents

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string,
                                  media_ref:string, offset:int>>)

Architecture is Spark-first: logical plans are declared with the
DataFrame API and optimized by Catalyst.  The hex cell encode and zone
membership (point-in-polygon on boundary cells) are compiled Java UDFs
(``jvm/Hex7Id.java``, ``jvm/ZoneMember.java``); Python runs on workers
only in Arrow-batched stages (per-cell model fits and solves, the ANN
kernels, hyperplane signatures, multimodal feature extraction).  See
SURVEY.md for the operator inventory and the mapping to the reference
implementation.
"""

from geodata_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
