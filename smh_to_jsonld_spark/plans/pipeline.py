"""End-to-end pipeline plans.

``hub_pipeline_from_frames`` is the DataFrame re-expression of the
reference's process_round (/root/reference/pipeline/create_jsonld_v6_0_0.py:
453-497): scan -> per-model distinct-value agg -> broadcast joins ->
doc assembly -> consolidation -> triple flattening. One SparkSession, no
per-round subprocesses; round fan-out is partition parallelism.

``kg_pipeline_from_transcripts`` is the generalized triple factory
(BASELINE.json north_star): transcripts -> pattern extraction (pure
Catalyst since r3; Arrow reference variants retained) -> entity linking -> reconstructed fact/metadata frames -> the SAME hub
pipeline -> JSON-LD + triples.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from smh_to_jsonld_spark.operators import aggregates, emit, extract, link
from smh_to_jsonld_spark.operators.triples import triples_from_structs


def hub_pipeline_from_frames(
    spark: SparkSession,
    metadata: DataFrame,
    facts: DataFrame,
    files: DataFrame,
    target_meta: DataFrame,
    diseases: DataFrame,
    dialect: str = "v6",
    fact_order_col: str | None = None,
) -> dict:
    """Run the full JSON-LD construction over already-structured frames.

    ``dialect`` selects the hubverse schema emission rules: "v6" (6.0.0)
    or "v5" (5.1.0) — the reference's two script variants, dispatched by
    version sniffing (run_pipeline.py:256-271; sources.config.dialect_of).

    ``fact_order_col``: name of a column on ``facts`` giving a stable row
    order; when set, distinct value lists (and hence spatialCoverage /
    ageGroups / temporal origin pick) replicate the reference's pandas
    first-appearance order instead of sorted order (SURVEY.md §7.4-5).
    """
    from pyspark.storagelevel import StorageLevel

    # field_values feeds THREE subplans of model_docs (the fv join,
    # _variable_measured, _spatial_coverage): persist or the per-model
    # aggregation over the whole fact table runs three times.
    # NOTE (measured, r5): the combos formulation stays the default — at
    # bench scale it beat the long-form explode variant 4.3s vs 5.3s
    # (explode x7 row volume costs more than the wide-struct exchange it
    # avoids). `aggregates.distinct_field_values_long` (pinned equal by
    # test) is the swap-in when a corpus's combo count approaches its raw
    # row count but the per-field value vocabulary stays small.
    field_values = aggregates.distinct_field_values(
        facts, order_col=fact_order_col
    ).persist(StorageLevel.MEMORY_AND_DISK)
    file_hist = aggregates.file_type_histogram(files)
    docs = emit.model_docs(
        spark, metadata, field_values, target_meta, file_hist, dialect=dialect
    )
    # docs feeds three consumers (model_docs result, consolidated, the
    # all_docs union) — persist so the extraction->agg->emit chain
    # materializes once. Lazy: costs nothing unless the plan executes.
    docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
    consolidated = emit.consolidated_round_docs(
        docs.select("round_id", "model_name", "doc_json"), diseases, dialect=dialect
    )
    # model docs flatten JVM-side over the TYPED struct (no JSON re-parse,
    # no Python stage); consolidated docs assemble AND flatten in ONE
    # grouped Python stage (emit.consolidated_round_triples, r6) — the
    # unfused consolidated->triples_from_docs path paid a second Python
    # stage + exchange per action. Same triple rules, pinned equivalent
    # by tests/test_triples.py (fused-vs-unfused test).
    model_triples = triples_from_structs(
        docs.select("doc_id", "doc_struct", "round_id"), passthrough=["round_id"]
    )
    cons_triples = emit.consolidated_round_triples(
        docs.select("round_id", "model_name", "doc_json"), diseases,
        dialect=dialect,
    )
    triples = model_triples.union(cons_triples)
    return {
        "field_values": field_values,
        "model_docs": docs,
        "consolidated": consolidated,
        "triples": triples,
    }


def extract_and_link(
    spark: SparkSession, transcripts: DataFrame, fuzzy_blocking: str = "prefix"
) -> dict:
    """Extraction + linking core, shared by the full pipeline and the
    benchmarks.

    `mentions` is persisted (MEMORY_AND_DISK): it feeds four consumers
    (conv_wide, metadata, files, facts) — without the persist the
    extraction pass would re-run per consumer branch. At cluster scale the
    same applies; for 10^12 turns persist to a staging table instead
    (TableIO.write) and read back.

    ``conv_wide`` (r5) is ALL conversation-level aggregates in one shuffle
    (extract.conversation_wide) and is persisted too: it is
    conversations-sized (tiny next to mentions) and feeds facts, metadata
    and files — previously three independent groupBy(conv_id) passes over
    the mention cache per action.
    """
    from pyspark.storagelevel import StorageLevel

    mentions = extract.extract_mentions(transcripts).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # NOTE (measured, r3): do NOT persist raw_facts here — caching the
    # 1.2M-row fact structs costs more than the double execution it
    # saves (16.9s -> 25.0s full-factory regression when tried); the
    # mention cache plus whole-stage codegen re-derives them cheaply.
    conv_wide = extract.conversation_wide(mentions).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    conv_dim = extract.conv_dim_from_wide(conv_wide)
    raw_facts = extract.facts_from_mentions(mentions, conv_dim)
    # vocabulary for linking comes from the PERSISTED mention cache (f2 of
    # fact mentions is the location surface), not from raw_facts: scanning
    # raw_facts for the distinct-surface pass would re-execute the
    # conv_dim groupBy + fact join a second time per action (r5 perf pass;
    # measured ~2.5s/action at 1.2M turns). Mentions ⊇ facts surfaces
    # (the conv join can only drop rows), and superset vocabularies are
    # harmless — see link_locations.
    vocab = mentions.filter(F.col("kind") == "fact").select(
        F.col("f2").alias("surface")
    )
    facts = link.link_locations(
        raw_facts, spark, fuzzy_blocking=fuzzy_blocking, vocab=vocab
    ).drop("location_surface")
    spotted = extract.spot_mentions(transcripts)  # single consumer, unpersisted
    return {"mentions": mentions, "conv_wide": conv_wide, "conv_dim": conv_dim,
            "facts": facts, "spotted": spotted}


def kg_pipeline_from_transcripts(
    spark: SparkSession,
    transcripts: DataFrame,
    target_meta: DataFrame,
    diseases: DataFrame,
    dialect: str = "v6",
    fuzzy_blocking: str = "prefix",
) -> dict:
    """The full triple factory over the authoritative input table
    (conv_id, turn_idx, role, text, tool, ts):

    1. extract   — Catalyst regexp pattern extraction -> mention rows
    2. link      — broadcast alias dict + blocked fuzzy matching resolves
                   location surface forms to canonical FIPS
    3. rebuild   — metadata / facts / files frames from mentions
    4. hub       — the SAME downstream JSON-LD pipeline as the reference
    5. flatten   — docs -> (subj, pred, obj) triples

    target_meta / diseases are config dims (the reference's tasks.json),
    broadcast-sized by construction.
    """
    core = extract_and_link(spark, transcripts, fuzzy_blocking=fuzzy_blocking)
    mentions, conv_dim, facts = core["mentions"], core["conv_dim"], core["facts"]

    metadata = extract.metadata_from_conv_wide(core["conv_wide"])
    files = extract.files_from_conv_wide(core["conv_wide"])

    result = hub_pipeline_from_frames(
        spark, metadata, facts, files, target_meta, diseases, dialect=dialect,
        fact_order_col="turn_order",
    )
    result["mentions"] = mentions
    result["conv_wide"] = core["conv_wide"]
    result["facts"] = facts
    result["spotted"] = core["spotted"]
    return result


def link_surface_counts(
    spark: SparkSession, counts: DataFrame, fuzzy_blocking: str = "prefix"
) -> DataFrame:
    """(surface, count) -> (surface, canonical, count): exact + fuzzy alias
    resolution over the distinct surface vocabulary (link.link_locations).
    Linking is per-surface deterministic (fixed dictionary, total-order
    tie-break), so results are memoizable across commits."""
    from smh_to_jsonld_spark.operators import link

    return link.link_locations(
        counts.withColumnRenamed("surface", "location_surface"), spark,
        fuzzy_blocking=fuzzy_blocking,
    ).select(
        F.col("location_surface").alias("surface"),
        F.col("location").alias("canonical"),
        "count",
    )


def entity_rollup(linked: DataFrame) -> DataFrame:
    """(surface, canonical, count) -> the canonical entity table (iri,
    canonical, surfaces array, n_mentions).

    Linking is a function surface -> canonical, and every canonical that
    can occur as a normalized surface links to itself, so the same-as
    graph is a forest of stars: an entity is one canonical plus the
    surfaces linked to it, i.e. one group by canonical. The IRI hashes
    the sorted member set {canonical} ∪ surfaces, joined by \\x01 — stable
    under re-runs; a canonical with no other surface hashes to
    sha1(canonical) (the reference's miss-still-emits contract)."""
    members = F.array_sort(F.array_union(F.array("canonical"), F.col("surfaces")))
    iri = F.concat(
        F.lit("kg:entity/"),
        F.sha1(F.to_binary(F.concat_ws("\x01", members), F.lit("utf-8"))),
    )
    return (
        linked.groupBy("canonical")
        .agg(
            F.sort_array(F.collect_set("surface")).alias("surfaces"),
            F.sum("count").alias("n_mentions"),
        )
        .select(iri.alias("iri"), "canonical", "surfaces", "n_mentions")
    )


def entity_graph(spark: SparkSession, spotted: DataFrame) -> DataFrame:
    """Free-text entity mentions (extract.spot_mentions output) ->
    canonical entity table.

    1. salted mention counts per surface form (head entities like 'US'
       dominate — the skew path, link.salted_count);
    2. exact + fuzzy alias resolution over the DISTINCT surface vocabulary;
    3. group by canonical -> member-set-hash IRIs (entity_rollup).

    Returns (iri, canonical, surfaces array, n_mentions). The resumable
    job uses the incremental variant (plans.job.rebuild_entities) which
    memoizes linking so only NEW surface forms pay the fuzzy pass per
    commit.
    """
    from smh_to_jsonld_spark.operators import link

    ents = spotted.filter(F.col("kind") == "entity").select(
        link.normalize_surface(F.col("term")).alias("surface")
    )
    counts = link.salted_count(ents, ["surface"], salt_buckets=16)
    return entity_rollup(link_surface_counts(spark, counts))


def turn_order_check(transcripts: DataFrame) -> int:
    """Per-turn text equality under stable (conv_id, turn_idx) window
    ordering (BASELINE.json input_hint invariant): re-sequence every
    conversation through a window and count turns whose text moved.
    Returns the number of violations (0 = invariant holds)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    reseq = transcripts.withColumn("__rn", F.row_number().over(w) - 1)
    return reseq.filter(F.col("__rn") != F.col("turn_idx")).count()
