"""Stage 2 — CURIE validation for one entity type: a view of
`link_multi.validate` (SURVEY.md §2.2 P1-P3)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_matcher_spark.ontology_types import OntologyType
from ontology_matcher_spark.operators.link_multi import validate


def validate_mentions(mentions: DataFrame, otype: OntologyType) -> DataFrame:
    """Add ``idx``, ``ns``, ``local_id`` and ``format_reason`` (NULL =
    valid CURIE for ``otype``; every row is read as ``otype``)."""
    m = mentions.withColumn("label", F.lit(otype.type))
    return validate(m, {otype.type: otype})
