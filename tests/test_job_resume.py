"""Resumable job + TableIO snapshot/lineage/metrics + streaming ingestion."""

import json

from pyspark.sql import functions as F

from smh_to_jsonld_spark.plans.job import discover_round_of_conv, run_resumable_kg_job
from smh_to_jsonld_spark.sources import synth
from smh_to_jsonld_spark.sources.tables import TableIO


def test_discover_round_of_conv(spark, spec):
    tr = synth.transcripts_df(spark, spec)
    got = {(r.conv_id, r.round_id) for r in discover_round_of_conv(tr).collect()}
    assert ("conv-2031-01-05-team0-modelA", "2031-01-05") in got
    assert len(got) == 10  # 2 rounds x 5 models


def test_resumable_job_and_snapshots(spark, spec, tmp_path):
    io = TableIO(str(tmp_path / "warehouse"))
    tr = synth.transcripts_df(spark, spec)
    tm = synth.target_metadata_df(spark, spec)
    dz = synth.diseases_df(spark, spec)

    m1 = run_resumable_kg_job(spark, tr, tm, dz, io, lineage_note="test")
    assert m1["metrics"]["partitions"].keys() == {"2031-01-05", "2031-02-02"}
    assert sum(m1["metrics"]["partitions"].values()) > 1000
    assert m1["metrics"]["triples_by_pred"]["@type"] > 0
    assert m1["lineage"]["rounds"] == ["2031-01-05", "2031-02-02"]

    # second run: everything committed => skipped, no new snapshot
    m2 = run_resumable_kg_job(spark, tr, tm, dz, io)
    assert m2.get("skipped") is True
    assert len(io.snapshots("triples")) == 1

    # partial resume: wipe one round from the manifest view by faking a
    # fresh warehouse containing only round 1's commit
    io2 = TableIO(str(tmp_path / "warehouse2"))
    r1_convs = [f"conv-2031-01-05-{m['model_name']}" for m in spec["rounds"][0]["models"]]
    tr_r1 = tr.filter(F.col("conv_id").isin(r1_convs))
    mA = run_resumable_kg_job(spark, tr_r1, tm, dz, io2)
    assert io2.completed_partitions("triples") == {"2031-01-05"}
    round_a_entities = {r.iri for r in io2.read(spark, "entities").collect()}
    assert round_a_entities
    m3 = run_resumable_kg_job(spark, tr, tm, dz, io2)
    assert list(m3["metrics"]["partitions"].keys()) == ["2031-02-02"]

    # committed data matches the one-shot run
    total_triples = io2.read(spark, "triples").count()
    assert total_triples == sum(m1["metrics"]["partitions"].values())

    # entities: round-A rows survive the round-B resume commit (the r2
    # data-loss bug overwrote the global table with round-B-only entities)
    key = lambda df: {
        (r.iri, r.canonical, tuple(r.surfaces), r.n_mentions) for r in df.collect()
    }
    resumed = key(io2.read(spark, "entities"))
    assert round_a_entities <= {e[0] for e in resumed}
    # ... and the resumed table is row-identical to the one-shot build
    assert resumed == key(io.read(spark, "entities"))
    # incremental maintenance: the resume commit linked only surface forms
    # never seen before, not the full vocabulary
    sA, sB = mA["metrics"]["entities"], m3["metrics"]["entities"]
    assert sB["new_surfaces"] < sA["n_surfaces"]

    # near-dup clustering is ALSO incrementally maintained (VERDICT r3 #3):
    # the resumed cluster table equals the one-shot build row-for-row ...
    nd_key = lambda io_: {
        (r.doc_id, r.cluster, r.is_representative)
        for r in io_.read(spark, "neardup_clusters").collect()
    }
    one_shot_nd = nd_key(io)
    assert one_shot_nd and one_shot_nd == nd_key(io2)
    # ... the resume commit's pair-generation input was new-docs-sized
    # (round B's 5 conversations, not the 10-conversation corpus) ...
    ndA, ndB = mA["metrics"]["near_dup"], m3["metrics"]["near_dup"]
    assert ndB["new_docs"] == 5 and ndA["new_docs"] == 5
    assert ndB["n_docs"] == 10  # but the rollup covers the whole corpus
    # ... and the blocked candidate generator accounts its drops in the
    # manifest (no silent caps)
    assert "dropped_buckets" in ndB and "dropped_rows" in ndB
    assert ndB["dropped_buckets"] == 0  # nothing degenerate at spec scale
    # signature partitions follow the commit rounds (crash contract)
    assert io2.completed_partitions("neardup_edges") == {"2031-01-05", "2031-02-02"}


def test_entities_memo_self_heal(spark, spec, tmp_path):
    """The surface_links memo is a CACHE: losing it between commits
    (crash after partial write, manual cleanup) must not change the
    entities table — a resume commit re-links every surface it no longer
    finds in the memo."""
    import shutil

    tr = synth.transcripts_df(spark, spec)
    tm = synth.target_metadata_df(spark, spec)
    dz = synth.diseases_df(spark, spec)

    io_ref = TableIO(str(tmp_path / "wh_ref"))
    run_resumable_kg_job(spark, tr, tm, dz, io_ref)
    key = lambda io: {
        (r.iri, r.canonical, tuple(r.surfaces), r.n_mentions)
        for r in io.read(spark, "entities").collect()
    }
    expected = key(io_ref)

    io = TableIO(str(tmp_path / "wh_heal"))
    r1_convs = [f"conv-2031-01-05-{m['model_name']}" for m in spec["rounds"][0]["models"]]
    run_resumable_kg_job(spark, tr.filter(F.col("conv_id").isin(r1_convs)), tm, dz, io)
    # lose the memo/rollup tables between commits (neardup_clusters is a
    # cache of the committed neardup_edges set, same healing contract)
    shutil.rmtree(io.table_path("surface_links"))
    shutil.rmtree(io.table_path("neardup_clusters"))
    m = run_resumable_kg_job(spark, tr, tm, dz, io)
    assert key(io) == expected
    # with the link memo gone, every surface re-links (healed, not skipped)
    assert m["metrics"]["entities"]["new_surfaces"] == m["metrics"]["entities"]["n_surfaces"]
    nd_key = lambda io_: {
        (r.doc_id, r.cluster, r.is_representative)
        for r in io_.read(spark, "neardup_clusters").collect()
    }
    assert nd_key(io) == nd_key(io_ref)


def _dup_conv_rows(conv_id, round_id, tokens):
    """One conversation: discovery header + content turns of `tokens`."""
    import datetime

    ts = datetime.datetime(2031, 1, 5)
    rows = [(conv_id, 0, "user", f"Round {round_id} scenario discussion", None, ts)]
    half = len(tokens) // 2
    rows.append((conv_id, 1, "assistant", " ".join(tokens[:half]), None, ts))
    rows.append((conv_id, 2, "assistant", " ".join(tokens[half:]), None, ts))
    return rows


def test_near_dup_cross_commit_cluster_merge(spark, spec, tmp_path):
    """The incremental path's hard case, which entity grouping never
    hits: a LATER commit's doc bridges two clusters formed by an EARLIER
    commit — contraction must merge them, and the resumed table must
    equal a one-shot build over the same corpus.

    Token design: T = B∪X, V = B∪Y with |B|=100, |X|=|Y|=25 disjoint =>
    J(T,V) ≈ 0.68 (below 0.8 — T/V clusters stay separate; the LSH
    S-curve still makes them candidates, so verification pruning is
    exercised too), while the bridge C = B∪X∪Y has J(C,T)=J(C,V) ≈ 0.84
    (above 0.8 — merges both)."""
    from smh_to_jsonld_spark.sources.synth import TRANSCRIPT_SCHEMA

    B = [f"tok{i:03d}" for i in range(100)]
    X = [f"xta{i:03d}" for i in range(25)]
    Y = [f"yvb{i:03d}" for i in range(25)]
    rA, rB = "2031-01-05", "2031-02-02"
    rows = (
        _dup_conv_rows(f"conv-{rA}-zdupa", rA, B + X)
        + _dup_conv_rows(f"conv-{rA}-zdupb", rA, B + X)
        + _dup_conv_rows(f"conv-{rA}-zdupc", rA, B + Y)
        + _dup_conv_rows(f"conv-{rA}-zdupd", rA, B + Y)
        + _dup_conv_rows(f"conv-{rB}-zbridge", rB, B + X + Y)
    )
    custom = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    tr = synth.transcripts_df(spark, spec).unionByName(custom)
    tm = synth.target_metadata_df(spark, spec)
    dz = synth.diseases_df(spark, spec)

    nd = lambda io_: {
        (r.doc_id, r.cluster, r.is_representative)
        for r in io_.read(spark, "neardup_clusters").collect()
    }
    # resumed: round A commit, then round B commit
    io_inc = TableIO(str(tmp_path / "wh_inc"))
    run_resumable_kg_job(
        spark, tr.filter(~F.col("conv_id").contains(rB)), tm, dz, io_inc
    )
    after1 = {d: c for d, c, _ in nd(io_inc)}
    assert after1[f"conv-{rA}-zdupb"] == f"conv-{rA}-zdupa"
    assert after1[f"conv-{rA}-zdupd"] == f"conv-{rA}-zdupc"  # two clusters
    m2 = run_resumable_kg_job(spark, tr, tm, dz, io_inc)
    after2 = {d: c for d, c, _ in nd(io_inc)}
    merged = {f"conv-{rA}-zdup{s}" for s in "abcd"} | {f"conv-{rB}-zbridge"}
    assert {after2[d] for d in merged} == {f"conv-{rA}-zdupa"}  # ONE cluster
    # the merge commit only paid for its own docs (round B: 5 spec models
    # + the bridge), not the whole corpus
    assert m2["metrics"]["near_dup"]["new_docs"] == 6

    # one-shot over the same corpus: identical table
    io_one = TableIO(str(tmp_path / "wh_one"))
    run_resumable_kg_job(spark, tr, tm, dz, io_one)
    assert nd(io_one) == nd(io_inc)


def test_fuzzy_blocking_family_pinned_per_warehouse(spark, spec, tmp_path):
    """ADVICE r3: the surface_links memo caches answers from one blocking
    family; switching families on a later commit must fail loudly (the
    family is recorded in the manifest), not silently mix results."""
    import shutil

    import pytest

    tr = synth.transcripts_df(spark, spec)
    tm = synth.target_metadata_df(spark, spec)
    dz = synth.diseases_df(spark, spec)
    io = TableIO(str(tmp_path / "wh_fam"))
    r1_convs = [f"conv-2031-01-05-{m['model_name']}" for m in spec["rounds"][0]["models"]]
    run_resumable_kg_job(
        spark, tr.filter(F.col("conv_id").isin(r1_convs)), tm, dz, io,
        fuzzy_blocking="prefix",
    )
    snaps = io.snapshots("surface_links")
    assert snaps[-1]["metrics"]["fuzzy_blocking"] == "prefix"
    with pytest.raises(RuntimeError, match="fuzzy_blocking"):
        run_resumable_kg_job(spark, tr, tm, dz, io, fuzzy_blocking="minhash")
    # deleting the memo tables (the documented escape hatch) unblocks —
    # the snapshot log lives under the table path, so the recorded family
    # resets with the data
    shutil.rmtree(io.table_path("surface_links"))
    assert not io.snapshots("surface_links")
    m = run_resumable_kg_job(spark, tr, tm, dz, io, fuzzy_blocking="minhash")
    assert m["metrics"]["entities"]["n_entities"] > 0
    assert io.snapshots("surface_links")[-1]["metrics"]["fuzzy_blocking"] == "minhash"


def test_tableio_snapshot_log(spark, tmp_path):
    io = TableIO(str(tmp_path / "wh"))
    df = spark.range(10).select(F.col("id"), (F.col("id") % 2).alias("p"))
    io.write(df, "t", partition_by=["p"], metrics={"partitions": {"0": 5, "1": 5}})
    io.write(df, "t", partition_by=["p"], metrics={"partitions": {"2": 10}})
    snaps = io.snapshots("t")
    assert [s["snapshot_id"] for s in snaps] == [0, 1]
    assert io.completed_partitions("t") == {"0", "1", "2"}
    assert json.dumps(snaps[0])  # manifests are valid json


def test_streaming_ingestion_available_now(spark, spec, tmp_path):
    from smh_to_jsonld_spark.streaming import ingest

    src = str(tmp_path / "incoming")
    synth.transcripts_df(spark, spec).write.parquet(src)

    stream = ingest.read_transcript_stream(spark, src)
    deduped = ingest.dedup_stream(stream)
    out = str(tmp_path / "bronze")
    ingest.run_available_now(deduped, out, str(tmp_path / "ckpt"))

    got = spark.read.parquet(out)
    assert got.count() == len(synth.transcripts_rows(spec))

    counts = ingest.mention_counts_stream(ingest.read_transcript_stream(spark, src))
    out2 = str(tmp_path / "mention_counts")
    ingest.run_available_now(counts, out2, str(tmp_path / "ckpt2"))
    rows = spark.read.parquet(out2).collect()
    assert sum(r.n_mentions for r in rows) > 0


def test_streaming_linked_entity_counts(spark, spec, tmp_path):
    """Speed-layer linking: streamed per-entity windowed counts must equal
    the batch spot->exact-link->count over the same input (fuzzy pass
    excluded on both sides)."""
    from smh_to_jsonld_spark.functions.dims import alias_dim
    from smh_to_jsonld_spark.operators import extract, link as linkops
    from smh_to_jsonld_spark.streaming import ingest

    src = str(tmp_path / "in")
    tr = synth.transcripts_df(spark, spec)
    tr.write.parquet(src)

    # complete-mode memory sink: a parquet append sink would (correctly)
    # withhold the trailing windows the watermark never passes once the
    # bounded test input drains — here we want the full counts to compare
    q = (
        ingest.linked_entity_counts_stream(
            ingest.read_transcript_stream(spark, src), spark
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("lec")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.day, r.entity): r.n_mentions
        for r in spark.sql("SELECT * FROM lec").collect()
    }

    dim = alias_dim(spark).select(F.col("alias").alias("__norm"), "canonical")
    batch_rows = (
        extract.spot_mentions(tr, passthrough=("ts",))
        .filter(F.col("kind") == "entity")
        .withColumn("__norm", linkops.normalize_surface(F.col("term")))
        .join(F.broadcast(dim), "__norm", "left")
        .withColumn("entity", F.coalesce("canonical", "__norm"))
        .groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
                 "entity")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    batch = {(r.day, r.entity): r.n for r in batch_rows}
    assert streamed == batch and streamed


def test_stream_counts_reconcile_with_batch_entity_graph(spark, spec, tmp_path):
    """Speed-layer -> batch-layer reconciliation (VERDICT r3 task 7).

    The stream emits exact-linked-or-raw surfaces; the batch
    ``entity_graph`` additionally upgrades missed surfaces through the
    FUZZY pass. Re-keying the stream's accumulated counts through the
    batch ``link_surface_counts`` mapping (surface -> canonical, identity
    for already-canonical entities) must reproduce the batch table's
    per-canonical mention counts exactly — i.e. the two layers disagree
    only by the documented fuzzy upgrade, never by lost or duplicated
    mentions."""
    from smh_to_jsonld_spark.operators import extract, link as linkops
    from smh_to_jsonld_spark.plans.pipeline import entity_graph, link_surface_counts
    from smh_to_jsonld_spark.streaming import ingest

    src = str(tmp_path / "in")
    tr = synth.transcripts_df(spark, spec)
    tr.write.parquet(src)

    q = (
        ingest.linked_entity_counts_stream(
            ingest.read_transcript_stream(spark, src), spark
        )
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("lec_recon")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream_totals: dict = {}
    for r in spark.sql("SELECT entity, sum(n_mentions) n FROM lec_recon GROUP BY entity").collect():
        stream_totals[r.entity] = stream_totals.get(r.entity, 0) + r.n

    spotted = extract.spot_mentions(tr)
    batch = {
        r.canonical: r.n_mentions for r in entity_graph(spark, spotted).collect()
    }

    # totals reconcile: every spotted mention is counted once in each layer
    assert sum(stream_totals.values()) == sum(batch.values()) > 0

    # re-key stream entities through the batch linking decision
    ents = spotted.filter(F.col("kind") == "entity").select(
        linkops.normalize_surface(F.col("term")).alias("surface")
    )
    counts = linkops.salted_count(ents, ["surface"], salt_buckets=16)
    surface_to_canonical = {
        r.surface: r.canonical for r in link_surface_counts(spark, counts).collect()
    }
    upgraded: dict = {}
    for entity, n in stream_totals.items():
        canon = surface_to_canonical.get(entity, entity)
        upgraded[canon] = upgraded.get(canon, 0) + n
    assert upgraded == batch


def test_stream_landed_signatures_feed_delta_neardup(spark, tmp_path):
    """End-to-end speed->batch handoff for dedup: signatures landed by
    the STREAM are consumed directly by delta_near_dup_pairs, and the
    verified pairs equal a pure-batch near-dup run over the same corpus
    (pairs touching the new delta)."""
    from pyspark.sql import functions as F

    from smh_to_jsonld_spark.operators import dedup
    from smh_to_jsonld_spark.streaming import ingest

    base = [(i, f"common prefix tokens doc {i % 4}") for i in range(20)]
    delta = [(100 + i, f"common prefix tokens doc {i % 4}") for i in range(6)]
    schema = "doc_id long, text string"
    src = str(tmp_path / "in")
    spark.createDataFrame(base + delta, schema).write.parquet(src)

    sigs_path = str(tmp_path / "sigs")
    ingest.run_available_now(
        ingest.doc_signature_stream(ingest.read_document_stream(spark, src, schema)),
        sigs_path, str(tmp_path / "ck"),
    )
    all_sigs = spark.read.parquet(sigs_path)
    new_sigs = all_sigs.filter(F.col("id") >= 100)

    pairs, stats = dedup.delta_near_dup_pairs(new_sigs, all_sigs, threshold=0.8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}

    full = dedup.minhash_lsh_pairs(
        spark.createDataFrame(base + delta, schema), threshold=0.8
    )
    want = {
        (r.id_a, r.id_b)
        for r in full.collect()
        if r.id_a >= 100 or r.id_b >= 100  # delta-touching pairs only
    }
    assert got == want and got  # stream-landed state == batch-derived
    assert stats["dropped_buckets"] == 0


def test_fact_triples_stream_matches_batch(spark, spec, tmp_path):
    """Speed-layer triple materialization: the streamed per-turn fact
    triples must equal the same stateless transforms applied batch-side
    to the identical corpus (multiset equality after an availableNow
    drain)."""
    from smh_to_jsonld_spark.operators import extract
    from smh_to_jsonld_spark.operators.triples import triples_from_fact_mentions
    from smh_to_jsonld_spark.streaming import ingest

    tr = synth.transcripts_df(spark, spec)
    src = str(tmp_path / "in")
    tr.write.parquet(src)

    out = str(tmp_path / "fact_triples")
    ingest.run_available_now(
        ingest.fact_triples_stream(ingest.read_transcript_stream(spark, src), spark),
        out, str(tmp_path / "ck"),
    )
    streamed = sorted(
        tuple(r) for r in spark.read.parquet(out).collect()
    )
    batch = sorted(
        tuple(r)
        for r in triples_from_fact_mentions(
            extract.extract_mentions(tr), spark
        ).collect()
    )
    assert streamed == batch and len(streamed) > 1000
    # exact-linked locations appear as canonical FIPS, not surface forms
    locs = {o for _, p, o in streamed if p == "location"}
    assert any(len(x) == 2 and x.isdigit() for x in locs), locs


def test_fact_triples_stream_late_data_drop_and_batch_upgrade(spark, tmp_path):
    """Late-data contract of the speed layer (VERDICT r4 #7), pinned
    empirically against two availableNow drains sharing one checkpoint:
    ``dedup_stream``'s dropDuplicatesWithinWatermark subjects every row to
    the stateful-operator LATE-RECORD FILTER, so a turn whose event time
    predates the checkpointed watermark is dropped ENTIRELY — duplicate or
    genuinely new — while within the watermark duplicates are dropped by
    state and new turns pass exactly once. The streamed fact-triple log is
    therefore complete only up to the watermark; the upgrade path for a
    late turn is the BATCH layer (the stateless batch replica of the same
    transforms sees it — asserted last), the same speed/batch split as
    fuzzy linking."""
    from datetime import datetime

    from smh_to_jsonld_spark.operators import extract
    from smh_to_jsonld_spark.operators.triples import triples_from_fact_mentions
    from smh_to_jsonld_spark.streaming import ingest

    def fact(loc):
        return (
            f"observed target=inc hosp; location={loc}; age_group=0-130;"
            " output_type=quantile; scenario=A-2031-01-01;"
            " origin_date=2031-01-05; horizon=1"
        )

    def turn(conv, idx, text, ts):
        return (conv, idx, "tool", text, "validate",
                datetime.fromisoformat(ts))

    def mk(rows):
        return spark.createDataFrame(rows, synth.TRANSCRIPT_SCHEMA)

    src = tmp_path / "in"
    out = str(tmp_path / "triples")
    ck = str(tmp_path / "ck")
    # drain 1: two fact turns + a factless clock turn that advances the
    # watermark (1h default) to 19:00
    mk([
        turn("cA", 0, fact("06"), "2026-01-01T10:00:00"),
        turn("cB", 0, fact("08"), "2026-01-01T19:30:00"),
        turn("cCLK", 0, "sounds good, proceeding", "2026-01-01T20:00:00"),
    ]).write.parquet(str(src / "f1"))
    stream = ingest.read_transcript_stream(spark, str(src) + "/*")
    ingest.run_available_now(
        ingest.fact_triples_stream(stream, spark), out, ck
    )
    # drain 2 (same checkpoint, watermark 19:00 restored): a late replay
    # of cA/0, an in-watermark replay of cB/0, an in-watermark NEW turn
    # cC/0, and a genuinely LATE new turn cD/0
    late = mk([
        turn("cA", 0, fact("06"), "2026-01-01T10:00:00"),
        turn("cB", 0, fact("08"), "2026-01-01T19:30:00"),
        turn("cC", 0, fact("09"), "2026-01-01T19:45:00"),
        turn("cD", 0, fact("10"), "2026-01-01T10:30:00"),
    ])
    late.write.parquet(str(src / "f2"))
    ingest.run_available_now(
        ingest.fact_triples_stream(
            ingest.read_transcript_stream(spark, str(src) + "/*"), spark
        ),
        out, ck,
    )
    rows = spark.read.parquet(out).collect()
    per_subj: dict = {}
    for r in rows:
        per_subj[r.subj] = per_subj.get(r.subj, 0) + 1
    # replays (late or in-watermark) emitted nothing twice; the
    # in-watermark new turn landed; the LATE new turn is absent
    n_fields = per_subj["kg:conv/cA/turn/0"]
    assert per_subj == {
        "kg:conv/cA/turn/0": n_fields,
        "kg:conv/cB/turn/0": n_fields,
        "kg:conv/cC/turn/0": n_fields,
    }, per_subj
    # the batch layer upgrades the dropped turn: the same stateless
    # transforms over the full transcript table DO see cD/0
    batch_subjs = {
        r.subj
        for r in triples_from_fact_mentions(
            extract.extract_mentions(late), spark
        ).collect()
    }
    assert "kg:conv/cD/turn/0" in batch_subjs


def test_doc_signature_stream_matches_batch(spark, tmp_path):
    """Speed-layer dedup front end: streamed per-doc MinHash signatures
    (stateless row-wise projection) must be VALUE-IDENTICAL to the batch
    explode+groupBy signature pass — the contract that lets the
    incremental near-dup stage consume stream-landed ``doc_signatures``
    without re-deriving them."""
    from smh_to_jsonld_spark.operators import dedup
    from smh_to_jsonld_spark.streaming import ingest

    docs = spark.createDataFrame(
        [
            (i, f"alpha beta gamma doc{i} shares tokens with doc{i % 3}")
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "docs_in")
    docs.write.parquet(src)

    stream = ingest.read_document_stream(spark, src, "doc_id long, text string")
    out = str(tmp_path / "sigs")
    ingest.run_available_now(
        ingest.doc_signature_stream(stream), out, str(tmp_path / "ck")
    )
    streamed = {
        r.id: (tuple(r.bh), tuple(r.sh))
        for r in spark.read.parquet(out).collect()
    }
    batch = {
        r.id: (tuple(r.bh), tuple(r.sh))
        for r in dedup.minhash_doc_signatures(docs).collect()
    }
    assert streamed == batch and len(streamed) == 30


def test_stateful_conversation_sessions(spark, spec, tmp_path):
    """applyInPandasWithState sessionization over the file stream."""
    from smh_to_jsonld_spark.streaming import ingest

    src = str(tmp_path / "in")
    synth.transcripts_df(spark, spec).write.parquet(src)
    sessions = ingest.conversation_sessions(ingest.read_transcript_stream(spark, src))
    q = (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName("conv_sessions")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    # with ProcessingTimeTimeout the query stays up to fire state
    # timeouts (closed=true rows) — poll until the data has drained,
    # then stop, instead of awaiting natural termination
    import time

    deadline = time.time() + 120
    n_convs = 10
    while time.time() < deadline:
        if spark.sql("SELECT count(DISTINCT conv_id) c FROM conv_sessions").first().c == n_convs:
            break
        time.sleep(2)
    q.stop()
    rows = spark.sql(
        "SELECT conv_id, max(n_turns) AS n FROM conv_sessions GROUP BY conv_id"
    ).collect()
    got = {r.conv_id: r.n for r in rows}
    expected = {}
    for cid, *_ in synth.transcripts_rows(spec):
        expected[cid] = expected.get(cid, 0) + 1
    assert got == expected


def test_job_executes_post_extraction_plan_once(spark, spec, tmp_path, monkeypatch):
    """Plan-count probe: every row that flows through the triples plan
    bumps an accumulator; if any write/metric re-executed the plan the
    count would be a multiple of the written rows."""
    from smh_to_jsonld_spark.plans import job as job_mod

    flowed = spark.sparkContext.accumulator(0)
    orig = job_mod.kg_pipeline_from_transcripts

    def probed(*a, **k):
        res = orig(*a, **k)

        def cnt(batches):
            for pdf in batches:
                flowed.add(len(pdf))
                yield pdf

        res["triples"] = res["triples"].mapInPandas(cnt, res["triples"].schema)
        return res

    monkeypatch.setattr(job_mod, "kg_pipeline_from_transcripts", probed)
    io = TableIO(str(tmp_path / "wh_probe"))
    tr = synth.transcripts_df(spark, spec)
    m = run_resumable_kg_job(
        spark, tr, synth.target_metadata_df(spark, spec),
        synth.diseases_df(spark, spec), io,
    )
    written = sum(m["metrics"]["partitions"].values())
    assert written > 1000
    assert flowed.value == written, (flowed.value, written)


def test_crashed_run_is_replaced_not_duplicated(spark, spec, tmp_path):
    """Crash simulation: triples data written but NO manifest committed
    (the state a mid-job crash leaves). The retry must resume the rounds
    and REPLACE the orphan partitions via dynamic partition overwrite —
    round 1 appended duplicates here."""
    io = TableIO(str(tmp_path / "wh_crash"))
    tr = synth.transcripts_df(spark, spec)
    tm = synth.target_metadata_df(spark, spec)
    dz = synth.diseases_df(spark, spec)

    from smh_to_jsonld_spark.plans.pipeline import kg_pipeline_from_transcripts

    res = kg_pipeline_from_transcripts(spark, tr, tm, dz)
    io.write_data(res["triples"], "triples", partition_by=["round_id"],
                  mode="overwrite_partitions")  # crash: no commit
    orphan = io.read(spark, "triples").count()
    assert io.completed_partitions("triples") == set()  # resume gate closed

    m = run_resumable_kg_job(spark, tr, tm, dz, io)
    assert m["metrics"]["partitions"].keys() == {"2031-01-05", "2031-02-02"}
    total = io.read(spark, "triples").count()
    assert total == orphan  # replaced, not orphan + new


def test_streaming_mention_extraction(spark, spec, tmp_path):
    """The extraction pandas-UDF runs unchanged on a stream: availableNow
    drain produces the same mention rows the batch extractor yields."""
    from smh_to_jsonld_spark.operators.extract import extract_mentions
    from smh_to_jsonld_spark.streaming import ingest

    src = str(tmp_path / "in")
    tr = synth.transcripts_df(spark, spec)
    tr.write.parquet(src)

    out = str(tmp_path / "mentions")
    ingest.run_available_now(
        ingest.mention_stream(ingest.read_transcript_stream(spark, src)),
        out, str(tmp_path / "ck"),
    )
    streamed = spark.read.parquet(out)
    batch = extract_mentions(tr)
    key = lambda df: {tuple(r) for r in df.collect()}
    assert key(streamed) == key(batch)


def test_at_scale_generator_multi_round(spark, tmp_path):
    """Round fan-out at scale: the spark.range generator spreads
    conversations over the fixture-spec round ids, and the job commits
    one partition per round."""
    io = TableIO(str(tmp_path / "wh_mr"))
    tr = synth.transcripts_at_scale(spark, 200, 24, n_rounds=2)
    spec = synth.corpus_spec()
    m = run_resumable_kg_job(
        spark, tr, synth.target_metadata_df(spark, spec),
        synth.diseases_df(spark, spec), io,
    )
    assert m["metrics"]["partitions"].keys() == {"2031-01-05", "2031-02-02"}
    assert all(v > 0 for v in m["metrics"]["partitions"].values())


def test_job_writes_node_edge_tables(spark, spec, tmp_path):
    """north_rule: node/edge tables materialized per commit, rebuilt from
    the full committed triple set (complete after a resume commit too)."""
    io = TableIO(str(tmp_path / "wh_graph"))
    tr = synth.transcripts_df(spark, spec)
    run_resumable_kg_job(
        spark, tr, synth.target_metadata_df(spark, spec),
        synth.diseases_df(spark, spec), io,
    )
    nodes = io.read(spark, "nodes")
    edges = io.read(spark, "edges")
    assert nodes.count() > 0 and edges.count() > 0
    assert set(nodes.columns) == {"iri", "types"}
    assert {"subj", "pred", "obj"} <= set(edges.columns)
    # every edge object is a node
    dangling = edges.join(
        nodes.select(F.col("iri").alias("obj")), "obj", "left_anti"
    ).count()
    assert dangling == 0


def test_near_dup_cap_pressure_divergence(spark, spec, tmp_path):
    """Pins the DOCUMENTED cap contract (plans/job.py rebuild_near_dups,
    VERDICT r4 #4) when band buckets outgrow ``max_bucket`` ACROSS
    commits: (1) edges committed while their buckets were under the cap
    are KEPT, never retracted; (2) the over-cap buckets the later commit
    drops are SURFACED in the manifest (``dropped_buckets`` > 0), and
    drop candidate generation on both the incremental and one-shot paths;
    (3) the divergence direction is incremental recall >= one-shot. This
    test fails if any of the three flips.

    Construction: a 60-token core. Round A holds TEN byte-identical
    core-only docs — commit 1's family buckets have 10 members (cap=12;
    ambient spec-corpus buckets max out at 5 in a single round), so
    C(10,2)=45 edges commit with zero drops. Round B adds SEVEN docs =
    core + 20 DISTINCT extra tokens each: most of their band minima still
    come from core shingles, pushing the corpus-wide core buckets past
    the cap (10 + colliding B-docs > 12) — dropped and counted — while
    their exact Jaccard against everything (J ~ 0.62-0.74) sits below the
    0.8 threshold, so no new edge can verify regardless of which residual
    buckets survive: commit 2 must leave the cap-doc edge set EXACTLY as
    commit 1 left it. (A strict-superset construction is impossible here:
    round headers live in the doc text, so cross-round docs can never be
    signature-identical, and the one-shot build may legitimately recover
    the round-A pairs through residual <=cap buckets — hence the pinned
    contract is >=, the documented direction, not >.)
    """
    from smh_to_jsonld_spark.sources.synth import TRANSCRIPT_SCHEMA

    core = [f"cap{i:03d}" for i in range(60)]
    extras = lambda tag: [f"x{tag}{i:02d}" for i in range(20)]
    rA, rB = "2031-01-05", "2031-02-02"
    fam_a = [(rA, f"a{i}", core) for i in range(10)]
    fam_b = [(rB, f"d{i}", core + extras(f"d{i}")) for i in range(7)]
    rows = []
    for rnd, tag, toks in fam_a + fam_b:
        rows += _dup_conv_rows(f"conv-{rnd}-zcap{tag}", rnd, toks)
    custom = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA)
    tr = synth.transcripts_df(spark, spec).unionByName(custom)
    tm = synth.target_metadata_df(spark, spec)
    dz = synth.diseases_df(spark, spec)

    cap_docs = {f"conv-{r}-zcap{t}" for r, t, _ in fam_a + fam_b}
    edge_set = lambda io_: {
        (r.id_a, r.id_b)
        for r in io_.read(spark, "neardup_edges").collect()
        if r.id_a in cap_docs or r.id_b in cap_docs
    } if io_.exists(spark, "neardup_edges") else set()

    io_inc = TableIO(str(tmp_path / "wh_cap_inc"))
    m1 = run_resumable_kg_job(
        spark, tr.filter(~F.col("conv_id").contains(rB)), tm, dz, io_inc,
        neardup_max_bucket=12,
    )
    assert m1["metrics"]["near_dup"]["dropped_buckets"] == 0
    committed_under_cap = edge_set(io_inc)
    assert len(committed_under_cap) == 45  # C(10,2) identical round-A docs

    m2 = run_resumable_kg_job(spark, tr, tm, dz, io_inc, neardup_max_bucket=12)
    assert m2["metrics"]["near_dup"]["dropped_buckets"] > 0  # surfaced, not silent
    inc_edges = edge_set(io_inc)
    assert inc_edges == committed_under_cap  # kept verbatim, nothing added

    io_one = TableIO(str(tmp_path / "wh_cap_one"))
    m_one = run_resumable_kg_job(spark, tr, tm, dz, io_one, neardup_max_bucket=12)
    assert m_one["metrics"]["near_dup"]["dropped_buckets"] > 0
    one_edges = edge_set(io_one)
    # the pinned contract: incremental recall >= one-shot, and nothing
    # outside the under-cap-committed set ever appears
    assert one_edges <= inc_edges == committed_under_cap
