"""Entity linking: validation, routing and formatting for every type.

This is the one implementation of the reference's routing ladder plus
per-type formatter (`_format_response` + `default_format`, SURVEY.md
§2.8). It links a mixed-label mention table in one dataflow — at
10^12 documents the mention table is the big input and is scanned
ONCE:
- the xref dictionary is pre-aggregated ONCE into a per-source-curie
  map ns → (count, sorted candidate set) — ontology-bounded work,
- one 1:1 broadcast map-join against the mention scan (the mention
  table is never shuffled for candidate generation),
- label-conditional routing / canonical / alias expressions as flat
  map-lookup columns (when ladders over the handful of types —
  constant-folded per row).

Three steps: `validate` → `route` → `format_rows`. The one-type
views stay thin: validate.validate_mentions is `validate`,
candidates.generate_candidates is `route`, and pipeline.link_mentions
is `link_mentions_multi` over one type with the label column
overridden. The parity and fuzz suites compare these views against
the pure-Python oracle (oracle.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ontology_matcher_spark.ontology_types import (
    CURIE_LOCAL_PATTERN,
    OntologyType,
    Strategy,
)
from ontology_matcher_spark.operators.format_stage import (
    metadata_exprs,
    metadata_table,
)
from ontology_matcher_spark.oracle import (
    R_BAD_FORMAT,
    R_BAD_PREFIX,
    R_MULTI,
    R_NO_RESULTS,
    R_UNIQUE_MULTI,
)

_RECORD_COLS = [
    "id", "name", "label", "resource", "description",
    "synonyms", "pmids", "taxid", "xrefs",
]


def _label_case(types: dict[str, OntologyType], fn) -> Column:
    """when(label == t, fn(otype)) ladder over the types."""
    out = None
    for tname, otype in types.items():
        branch = F.when(F.col("label") == tname, fn(otype))
        out = branch if out is None else out.when(
            F.col("label") == tname, fn(otype)
        )
    return out


def validate(mentions: DataFrame, types: dict[str, OntologyType]) -> DataFrame:
    """Label-conditional CURIE check (SURVEY.md §2.2 P1-P3): add
    ``idx`` (when absent), ``ns``, ``local_id`` and ``format_reason``
    (NULL = valid CURIE for the row's type).

    The reference aborts the whole run on any malformed id
    (ontology_formatter.py:279-303); a distributed pipeline must not —
    each row is tagged with a reason and routed. ``idx`` is
    ``monotonically_increasing_id``: it preserves file order within
    and across ordered splits, which is all first-row-wins needs."""
    df = mentions
    if "idx" not in df.columns:
        df = df.withColumn("idx", F.monotonically_increasing_id())
    has_colon = F.col("id").contains(":")
    return (
        df.withColumn(
            "ns",
            F.when(has_colon, F.substring_index("id", ":", 1)).otherwise(F.lit("")),
        )
        .withColumn(
            "local_id",
            F.when(
                has_colon, F.expr("substring(id, instr(id, ':') + 1)")
            ).otherwise(F.lit("")),
        )
        .withColumn(
            "format_reason",
            F.when(F.col("id").isNull() | ~has_colon, F.lit(R_BAD_FORMAT))
            .when(
                ~_label_case(
                    types, lambda o: F.col("ns").isin(list(o.choices))
                ),
                F.lit(R_BAD_PREFIX),
            )
            .when(
                ~F.col("local_id").rlike(f"^{CURIE_LOCAL_PATTERN}$"),
                F.lit(R_BAD_FORMAT),
            ),
        )
    )


def route(
    validated: DataFrame,
    xref_edges: DataFrame,
    types: dict[str, OntologyType],
    strategy: Strategy = Strategy.MIXTURE,
) -> DataFrame:
    """Candidate generation + tie-break routing (SURVEY.md §2.8 rules
    1-4) over `validate`'s output → one row per mention: idx, raw_id,
    ns, label, reason (NULL = converted), cand_default (the
    default-namespace candidates; [raw_id] when the mention is in the
    default namespace) and aliases (the other candidates)."""
    all_ns: list[str] = sorted({ns for t in types.values() for ns in t.choices})

    # ---- pre-aggregated candidate map + ONE 1:1 broadcast join -------
    # The round-1 shape collected 22 per-namespace ARRAYS per mention
    # (allocation/GC storm); rounds 2-4 joined mentions against the
    # EDGE LIST (broadcast) and re-aggregated per mention — correct,
    # but the widest shuffle in the pipeline: |mentions| × edge
    # multiplicity rows into a |mentions|-group aggregation. At 10^12
    # mentions that shuffle is corpus-bounded. This round the per-ns
    # counts and sorted candidate sets are aggregated ONCE on the
    # dictionary side (ontology-bounded: one row per src curie), and
    # the mention scan does a 1:1 broadcast map-join — every routing
    # quantity below is a flat map-lookup expression, and the mention
    # table is never shuffled for candidate generation at all. The
    # dictionary is pre-distinct'd so counts equal the reference's
    # set sizes.
    edges = (
        xref_edges.where(F.col("dst_ns").isin(all_ns))
        .select("src_curie", "dst_ns", "dst_curie")
        .distinct()
    )
    per_ns = edges.groupBy("src_curie", "dst_ns").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sort_array(F.collect_set("dst_curie")).alias("cands"),
    )
    emap = per_ns.groupBy("src_curie").agg(
        F.map_from_entries(
            F.collect_list(F.struct("dst_ns", F.struct("cnt", "cands")))
        ).alias("xmap")
    )
    # ONE pass for valid AND invalid rows (the round-5 shape ran
    # separate join subtrees for the converted and failed sides of the
    # output union: the mention table was scanned three times and the
    # xref-map / first-record aggregations each built and executed
    # twice). Invalid rows ride the same broadcast probe — their
    # routing columns are garbage gated off by format_reason, which
    # takes precedence in the reason coalesce below.
    m = validated.select(
        "idx", F.col("id").alias("raw_id"), "ns", "label", "format_reason"
    )
    joined = m.join(F.broadcast(emap), m.raw_id == emap.src_curie, "left")

    _EMPTY = F.array().cast("array<string>")

    # flatten the map ONCE into per-ns (count, candidate-set) columns:
    # every routing ladder below then references small flat
    # expressions — keeping each generated function under the codegen
    # size limits — instead of repeating GetMapValue chains per branch
    ns_i = {ns: i for i, ns in enumerate(all_ns)}
    joined = joined.select(
        "idx",
        "raw_id",
        "ns",
        "label",
        "format_reason",
        *[
            F.coalesce(F.col("xmap")[ns]["cnt"], F.lit(0)).alias(f"c_{i}")
            for ns, i in ns_i.items()
        ],
        *[
            F.coalesce(F.col("xmap")[ns]["cands"], _EMPTY).alias(f"a_{i}")
            for ns, i in ns_i.items()
        ],
    )

    def sz(ns: str) -> Column:
        """candidate count in ``ns`` (0 when unmapped)."""
        return F.col(f"c_{ns_i[ns]}")

    def cands(ns: str) -> Column:
        """sorted candidate set in ``ns`` ([] when unmapped)."""
        return F.col(f"a_{ns_i[ns]}")

    ldefault = _label_case(types, lambda o: F.lit(o.default))

    def _sum(exprs: list[Column]) -> Column:
        out = exprs[0]
        for e in exprs[1:]:
            out = out + e
        return out

    # n_hits counts distance-1 neighbours in the MENTION's type's
    # namespaces only (per-type "No results found" semantics)
    n_hits = _label_case(types, lambda o: _sum([sz(ns) for ns in o.choices]))
    cand_default_raw = _label_case(types, lambda o: cands(o.default))
    # non-default, non-own candidates of the row's type (sorted set —
    # each per-ns set is sorted, the flatten is re-sorted after dedup)
    alias_collected = _label_case(
        types, lambda o: F.sort_array(
            F.array_distinct(
                F.flatten(
                    F.array(
                        *(
                            [
                                F.when(F.col("ns") != ns_c, cands(ns_c)).otherwise(_EMPTY)
                                for ns_c in o.choices
                                if ns_c != o.default
                            ]
                            or [_EMPTY]
                        )
                    )
                )
            )
        )
    )

    # own-namespace override (the reference maps a mention's own
    # namespace to [raw_id] itself, replacing any same-ns xrefs):
    #  - default candidates: [raw_id] when the mention IS in the
    #    default namespace, else the collected default-ns set;
    #  - aliases: collected non-default/non-own candidates, plus
    #    raw_id when the mention's own namespace is non-default.
    own_is_default = F.col("ns") == ldefault
    default_arr = F.when(own_is_default, F.array(F.col("raw_id"))).otherwise(
        cand_default_raw
    )
    alias_arr = F.when(own_is_default, alias_collected).otherwise(
        F.array_union(alias_collected, F.array(F.col("raw_id")))
    )

    # routing predicates: a candidate count in any non-own namespace
    # of the row's type > 1
    multi_default = ~own_is_default & (
        _label_case(types, lambda o: sz(o.default)) > 1
    )

    def _greatest(exprs: list[Column]) -> Column:
        return exprs[0] if len(exprs) == 1 else F.greatest(*exprs)

    any_multi = (
        _label_case(
            types, lambda o: _greatest(
                [
                    F.when(F.col("ns") == ns, F.lit(0)).otherwise(sz(ns))
                    for ns in o.choices
                ]
            )
        )
        > 1
    )
    # reason: format failures first (they never routed), then the
    # routing ladder — identical precedence to the round-5 two-branch
    # form, where invalid rows bypassed routing entirely
    route_reason = (
        F.when(n_hits == 0, F.lit(R_NO_RESULTS))
        .when(multi_default, F.lit(R_MULTI))
        .when(
            F.lit(strategy == Strategy.UNIQUE) & any_multi,
            F.lit(R_UNIQUE_MULTI),
        )
    )
    return joined.select(
        "idx",
        "raw_id",
        "ns",
        "label",
        F.coalesce(F.col("format_reason"), route_reason).alias("reason"),
        default_arr.alias("cand_default"),
        alias_arr.alias("aliases"),
    )


def format_rows(
    validated: DataFrame,
    wide: DataFrame,
    terms: DataFrame,
    types: dict[str, OntologyType],
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[DataFrame, DataFrame]:
    """Raw-record join, metadata enrich and output routing (SURVEY.md
    §2.8 rules 5-7, ontology_formatter.py:675-771) over `validate`'s
    and `route`'s outputs → (formatted, failed_formatted) with
    FORMATTED_COLUMNS / FAILED_COLUMNS.

    - raw-record join: every row joins back to the FIRST input row
      bearing its (label, raw id) (get_raw_record first-row-wins,
      of.py:604-605);
    - routing: default id missing → keep the raw id; unique →
      canonical id, resource stays the RAW record's (of.py:734), label
      forced to the ontology type (of.py:735); failed ids are rescued
      iff prefix == default OR strategy MIXTURE (of.py:754-763);
    - xrefs = alias ids (every non-default namespace candidate, own
      namespace included — get_alias_ids, of.py:625-641) ∪ metadata
      xrefs ∪ input xrefs (`format_stage.metadata_exprs`).
    """
    # ---- records: first input row per (label, id) --------------------
    # min_by per column, not a row_number window: the agg combines
    # map-side (no full shuffle of losers) — the first-row-wins lookup
    # over 10^12 mentions is itself a big agg. One min_by PER COLUMN
    # rather than one over a 9-column struct: idx is unique, so every
    # column independently picks the same winning row, and separate
    # aggregate expressions are prunable — a consumer that only reads
    # r_label/r_xrefs (the lazy triples pipeline after its projection)
    # aggregates 2 strings instead of 9.
    records = validated.groupBy(F.col("label").alias("r_key_label"), "id").agg(
        *[
            F.min_by(
                F.coalesce(F.col(c), F.lit("")), F.col("idx")
            ).alias(f"r_{c}")
            for c in _RECORD_COLS
        ]
    )

    # ---- ONE records join + ONE metadata join for every row ----------
    rows = wide.join(
        records,
        (wide.raw_id == records.r_id) & (wide.label == records.r_key_label),
        "left",
    )
    is_conv = F.col("reason").isNull()
    rows = rows.withColumn(
        "canonical",
        F.when(F.size("cand_default") == 1, F.element_at("cand_default", 1)),
    )
    # metadata key = canonical when resolved, else the RAW id: the
    # reference fetches metadata per QUERY and applies it even to rows
    # with no default mapping (format_by_metadata runs before the
    # id-None branch, ontology_formatter.py:697-700 + :712-717).
    # Failed rows get a NULL key — no match, md_* stay NULL, and the
    # reason-gated output expressions never read them.
    rows = rows.join(
        F.broadcast(metadata_table(terms)),
        F.when(is_conv, F.coalesce(rows.canonical, rows.raw_id))
        == F.col("md_curie"),
        "left",
    )

    # per-label metadata semantics: one expression per output column,
    # switching by metadata_mode (flat label test — no nesting)
    gene_labels = [t for t, o in types.items() if o.metadata_mode == "gene"]
    dflt = metadata_exprs("default", F.col("aliases"))
    gene = metadata_exprs("gene", F.col("aliases"))

    def o(col: str) -> Column:
        if not gene_labels:
            return dflt[col]
        return F.when(F.col("label").isin(gene_labels), gene[col]).otherwise(
            dflt[col]
        )

    resolved = is_conv & F.col("canonical").isNotNull()
    rows = (
        rows.withColumn("o_name", o("name"))
        .withColumn("o_description", o("description"))
        .withColumn("o_synonyms", o("synonyms"))
        .withColumn("o_taxid", o("taxid"))
        .withColumn("o_pmids", o("pmids"))
        .withColumn("o_xrefs", o("xrefs"))
    )

    default_of_label = _label_case(types, lambda o: F.lit(o.default))
    # null-safe: a NULL id has no prefix, so under UNIQUE it fails
    # with its "Invalid id format" reason (as in the oracle)
    rescue = F.coalesce(
        F.substring_index("raw_id", ":", 1) == default_of_label, F.lit(False)
    ) | F.lit(strategy == Strategy.MIXTURE)

    # converted rows emit the metadata-formatted columns; rescued
    # failures emit the raw-record passthrough with raw_id "" (a NULL
    # id joins no record, so its label falls back to the mention's)
    formatted = rows.where(is_conv | rescue).select(
        F.when(resolved, F.col("canonical")).otherwise(F.col("raw_id")).alias("id"),
        F.when(is_conv, F.col("o_name")).otherwise(F.col("r_name")).alias("name"),
        F.when(resolved, F.col("label"))
        .otherwise(F.coalesce(F.col("r_label"), F.col("label")))
        .alias("label"),
        F.col("r_resource").alias("resource"),
        F.when(is_conv, F.col("o_description"))
        .otherwise(F.col("r_description"))
        .alias("description"),
        F.when(is_conv, F.col("o_synonyms"))
        .otherwise(F.col("r_synonyms"))
        .alias("synonyms"),
        F.when(is_conv, F.col("o_pmids")).otherwise(F.col("r_pmids")).alias("pmids"),
        F.when(is_conv, F.col("o_taxid")).otherwise(F.col("r_taxid")).alias("taxid"),
        F.when(is_conv, F.col("o_xrefs")).otherwise(F.col("r_xrefs")).alias("xrefs"),
        F.when(resolved, F.col("raw_id")).otherwise(F.lit("")).alias("raw_id"),
    )
    failed_formatted = rows.where(~is_conv & ~rescue).select(
        F.col("raw_id").alias("id"),
        F.col("r_name").alias("name"),
        "label",
        F.col("r_resource").alias("resource"),
        F.col("r_description").alias("description"),
        F.col("r_synonyms").alias("synonyms"),
        F.col("r_pmids").alias("pmids"),
        F.col("r_taxid").alias("taxid"),
        F.col("r_xrefs").alias("xrefs"),
        "reason",
    )
    return formatted, failed_formatted


def link_mentions_multi(
    mentions: DataFrame,
    xref_edges: DataFrame,
    terms: DataFrame,
    types: dict[str, OntologyType],
    strategy: Strategy = Strategy.MIXTURE,
) -> tuple[DataFrame, DataFrame]:
    """Mixed-label mention table → (formatted, failed_formatted) in one
    dataflow pass. Only rows whose label is a key of ``types`` are
    linked; the others are dropped."""
    df = validate(mentions.where(F.col("label").isin(list(types))), types)
    wide = route(df, xref_edges, types, strategy)
    return format_rows(df, wide, terms, types, strategy)
