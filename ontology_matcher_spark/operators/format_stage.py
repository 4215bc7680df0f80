"""Stage 5 — metadata enrichment expressions.

Column-expression reproduction of the reference's metadata merge
(ontology_matcher/ontology_formatter.py:656-673 and
gene/__init__.py:332-354 — SURVEY.md §2.8 rules 5-7), used by
`link_multi.format_rows`:

- `metadata_table`: the term dictionary as md_-prefixed columns for
  the canonical-id broadcast join;
- `metadata_exprs`: per-mode output columns — dictionary metadata
  beats the input row for name/description (`or`-fallback), synonyms
  union; xrefs = alias ids ∪ md xrefs ∪ input xrefs, pipe-joined
  sorted-dedup (join_lst, of.py:544-553).

Everything is codegen'd — no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ontology_matcher_spark.functions.arrays import (
    concat_unique,
    split_pipe,
    sql_join_lst,
)


_EMPTY_ARR = "array<string>"


def metadata_table(terms: DataFrame) -> DataFrame:
    """Term dictionary → md_-prefixed metadata columns for the
    canonical-id broadcast join. Tolerates dictionaries without the
    gene/xref metadata columns (pre-round-2 tables)."""
    cols = set(terms.columns)
    sym = F.col("symbol") if "symbol" in cols else F.lit("")
    tax = F.col("taxid") if "taxid" in cols else F.lit("")
    xr = (
        F.col("xrefs") if "xrefs" in cols else F.array().cast(_EMPTY_ARR)
    )
    pm = (
        F.col("pmids") if "pmids" in cols else F.array().cast(_EMPTY_ARR)
    )
    return terms.select(
        F.col("curie").alias("md_curie"),
        F.col("name").alias("md_name"),
        F.col("description").alias("md_description"),
        F.col("synonyms").alias("md_synonyms"),
        sym.alias("md_symbol"),
        tax.alias("md_taxid"),
        xr.alias("md_xrefs"),
        pm.alias("md_pmids"),
    )


def metadata_exprs(mode: str, alias_arr) -> dict:
    """Output-column expressions for one metadata mode over a frame
    carrying r_* (raw record) and md_* (dictionary) columns.

    - "default" (ontology_formatter.py:656-673): name/description fall
      back md→raw; synonyms = md ∪ raw; taxid = raw; xrefs =
      alias ids ∪ md xrefs ∪ raw xrefs.
    - "gene" (gene/__init__.py:332-354): name = SYMBOL, else md name,
      else raw; description = md summary with NO raw fallback (an
      empty summary yields ""); taxid from metadata; synonyms =
      (alias+other_names =) md synonyms ∪ {md name} ∪ raw.
    Metadata applies only when the canonical id matched a term row
    (md_found) — the reference skips format_by_metadata when the
    metadata dict is empty (ontology_formatter.py:699-700)."""
    nn = lambda c: F.when(F.col(c) != "", F.col(c))  # noqa: E731  ''→NULL
    md_found = F.col("md_curie").isNotNull()
    empty = F.array().cast(_EMPTY_ARR)
    md_xr = F.coalesce(F.col("md_xrefs"), empty)
    md_syn = F.coalesce(F.col("md_synonyms"), empty)
    md_pm = F.coalesce(F.col("md_pmids"), empty)
    xrefs = sql_join_lst(
        concat_unique(concat_unique(alias_arr, md_xr), split_pipe("r_xrefs"))
    )
    pmids = sql_join_lst(concat_unique(md_pm, split_pipe("r_pmids")))
    if mode == "gene":
        md_name_arr = F.when(
            md_found & (F.col("md_name") != ""), F.array(F.col("md_name"))
        ).otherwise(empty)
        return {
            "name": F.coalesce(nn("md_symbol"), nn("md_name"), F.col("r_name")),
            "description": F.when(
                md_found, F.coalesce(nn("md_description"), F.lit(""))
            ).otherwise(F.col("r_description")),
            "taxid": F.when(
                md_found, F.coalesce(nn("md_taxid"), F.lit(""))
            ).otherwise(F.col("r_taxid")),
            "synonyms": sql_join_lst(
                concat_unique(
                    concat_unique(md_syn, md_name_arr), split_pipe("r_synonyms")
                )
            ),
            "xrefs": xrefs,
            "pmids": pmids,
        }
    return {
        "name": F.coalesce(nn("md_name"), F.col("r_name")),
        "description": F.coalesce(nn("md_description"), F.col("r_description")),
        "taxid": F.col("r_taxid"),
        "synonyms": sql_join_lst(concat_unique(md_syn, split_pipe("r_synonyms"))),
        "xrefs": xrefs,
        "pmids": pmids,
    }
