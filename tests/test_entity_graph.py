"""Entity graph: spotting -> linking -> group by canonical -> IRIs, end to
end."""

import hashlib

from pyspark.sql import functions as F

from smh_to_jsonld_spark.operators.extract import extract_mentions, spot_mentions
from smh_to_jsonld_spark.plans.pipeline import entity_graph
from smh_to_jsonld_spark.sources import synth


def test_entity_graph_clusters_surface_forms(spark, spec):
    spotted = spot_mentions(synth.transcripts_df(spark, spec))
    ents = entity_graph(spark, spotted)
    rows = {r.canonical: r for r in ents.collect()}

    # the head entity: 'US' mentions arrive as 'United States' in fact text
    assert "US" in rows
    us = rows["US"]
    assert "united states" in us.surfaces
    assert us.n_mentions > 0
    assert us.iri.startswith("kg:entity/")

    # every cluster IRI is unique and deterministic across recomputation
    iris = [r.iri for r in rows.values()]
    assert len(iris) == len(set(iris))
    again = {r.canonical: r.iri for r in entity_graph(spark, spotted).collect()}
    assert {c: r.iri for c, r in rows.items()} == again

    # IRI = sha1 over the sorted member set {canonical} ∪ surfaces, joined
    # by \x01 — fixed values, so a change to the IRI rule shows here
    for c in ("06", "US"):
        r = rows[c]
        members = "\x01".join(sorted({r.canonical, *r.surfaces}))
        assert r.iri == "kg:entity/" + hashlib.sha1(members.encode()).hexdigest()


def test_mentions_and_spotting_at_scale(spark):
    tr = synth.transcripts_at_scale(spark, 50, 24)
    m = extract_mentions(tr)
    kinds = {r.kind: r.n for r in m.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert kinds.get("fact", 0) > 0 and kinds.get("header", 0) > 0

    s = spot_mentions(tr)
    skinds = {r.kind: r.n for r in s.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert skinds.get("entity", 0) > 0
    assert skinds.get("concept", 0) > 0
    assert skinds.get("date", 0) > 0
