"""Benchmark of the production entry ``plans.job.run_resumable_kg_job``.

Usage (from the repo root):

    python3 perfbench/run.py --workload build --seed 1 --seconds 1 --trace 0

One Spark session at ``local[<cores>]`` runs a closed loop with one client:
one job call at a time, each committing a freshly generated transcript
table (perfbench/gen.py, seeded by ``--seed``) into an empty warehouse,
followed by its output checks. Operations start until ``--seconds`` have
passed (at least one). The last line of stdout is the result JSON:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1`` (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK = ROOT / ".perfbench_work"
GOLDEN = ROOT / "tests" / "fixtures" / "golden_triples.json"
sys.path[:0] = [str(ROOT), str(Path(__file__).resolve().parent)]

CORES = len(os.sched_getaffinity(0))  # what `nproc` reports
MASTER = f"local[{CORES}]"
SHUFFLE_PARTITIONS = 2 * CORES
SPARK_CONF = {
    # the traced run reads every job and stage of an operation back
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.showConsoleProgress": "false",
}
SETUP_REPEATS = 3

BASE_SPEC = dict(conversations=100, rounds=2, misspell_share=0.1, head_share=0.6)
WORKLOADS = {
    "build": dict(near_dup_share=0.02, cluster_size=2),
    "dup_heavy": dict(near_dup_share=0.8, cluster_size=40),
}


# ---------------------------------------------------------------------------
# process memory: resident memory of every descendant (Spark JVM + Python workers)
# ---------------------------------------------------------------------------

def _children() -> dict:
    kids: dict = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kib(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes mapping it, so a forked worker's or a child's shared
    pages are not counted twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_times() -> list:
    """Host-wide jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


class MemorySampler(threading.Thread):
    def __init__(self, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.period_s, self.peak_kib, self.peak_parts = period_s, 0, []
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(self.period_s):
            pss = [_pss_kib(p) for p in descendants(me)]
            if sum(pss) > self.peak_kib:
                self.peak_kib, self.peak_parts = sum(pss), sorted(pss, reverse=True)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def start_session():
    """Pinned session: every setting is recorded in the output."""
    for d in ("tmp", "spark-local"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    env = {
        # the engine's 16g default is more than a 15 GiB box has
        "SMHKG_DRIVER_MEM": "3g",
        "SMHKG_LOCAL_DIR": str(WORK / "spark-local"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        # a fixed young generation keeps peak memory steady between runs
        "SMHKG_DRIVER_JAVA_OPTS": (f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData"
                                   " -XX:+UseParallelGC -Xms3g -Xmn512m"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": str(WORK / "tmp"),
        "PYTHONPATH": str(ROOT),
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = env["TMPDIR"]
    from smh_to_jsonld_spark.session import get_spark

    conf = {
        **SPARK_CONF,
        "spark.local.dir": env["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": str(WORK / "spark-warehouse"),
    }
    spark = get_spark(app_name="perfbench", master=MASTER,
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, {"master": MASTER, "shuffle_partitions": SHUFFLE_PARTITIONS, **env, **conf}


def stop_session(spark) -> None:
    """Stop Spark, the gateway JVM and its Python workers; wait for all."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def make_input(spec, seed: int, path: Path) -> tuple:
    """Generated rounds + the fixture corpus's rounds -> one parquet table.
    Returns (truth, digest, n_turns)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gen
    from smh_to_jsonld_spark.sources import synth

    table, truth = gen.generate(spec, seed)
    fixture = synth.transcripts_rows(synth.corpus_spec())
    fx = pa.table(
        {f.name: [r[i] for r in fixture] for i, f in enumerate(gen.SCHEMA)},
        schema=gen.SCHEMA,
    )
    table = pa.concat_tables([fx, table])
    pq.write_table(table, str(path))
    return truth, gen.digest(table), table.num_rows


def config_dims(spark, spec):
    import gen
    from smh_to_jsonld_spark.sources import synth

    dims_spec = synth.corpus_spec(n_rounds=gen.FIXTURE_ROUNDS + spec.rounds)
    return synth.target_metadata_df(spark, dims_spec), synth.diseases_df(spark, dims_spec)


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

def check_outputs(spark, io, manifest, truth, input_path, golden) -> list:
    """Failures of one operation's output (empty list = correct)."""
    from pyspark.sql import functions as F

    import gen
    from smh_to_jsonld_spark.operators.triples import precision_recall
    from smh_to_jsonld_spark.plans.pipeline import turn_order_check

    failures = []
    if manifest.get("skipped"):
        return ["job skipped: nothing committed"]
    triples = io.read(spark, "triples").withColumn("round_id", F.col("round_id").cast("string"))

    # 1. the fixture rounds reproduce the reference's golden triples
    fixture_rounds = [gen.round_id(i) for i in range(gen.FIXTURE_ROUNDS)]
    mine = {
        (r.subj, r.pred, r.obj)
        for r in triples.filter(F.col("round_id").isin(fixture_rounds)).collect()
    }
    p, r = precision_recall(mine, golden)
    if (p, r) != (1.0, 1.0):
        failures.append(f"fixture triples P={p:.4f} R={r:.4f} (want 1.0)")

    # 2. manifest counts == committed triples table
    per_round, per_pred = {}, {}
    for x in triples.groupBy("round_id", "pred").count().collect():
        per_round[x.round_id] = per_round.get(x.round_id, 0) + x["count"]
        per_pred[x.pred] = per_pred.get(x.pred, 0) + x["count"]
    if per_round != manifest["metrics"]["partitions"]:
        failures.append("manifest per-round counts differ from the triples table")
    if per_pred != manifest["metrics"]["triples_by_pred"]:
        failures.append("manifest per-predicate counts differ from the triples table")

    # 3. per-model docs carry the generator's ground truth
    we = F.col("doc_struct").getField("workExample")
    docs = (
        io.read(spark, "model_docs")
        .withColumn("round_id", F.col("round_id").cast("string"))
        .filter(~F.col("round_id").isin(fixture_rounds))
        .select(
            "round_id", "model_name",
            we.getField("spatialCoverage").getField("gn:fipsCode").alias("loc"),
            we.getField("variableMeasured").getField("target_id").alias("tgt"),
            F.flatten(we.getField("output_type")).alias("ot"),
        )
        .collect()
    )
    got = {(d.round_id, d.model_name): {"locations": set(d.loc or []),
                                        "targets": set(d.tgt or []),
                                        "output_types": set(d.ot or [])} for d in docs}
    if got.keys() != truth["docs"].keys():
        failures.append(f"model docs {len(got)} != generated models {len(truth['docs'])}")
    else:
        bad = [k for k in got if got[k] != truth["docs"][k]]
        if bad:
            failures.append(f"{len(bad)} model docs differ from ground truth, e.g. {bad[0]}")

    # 4. input turn order invariant
    n_bad = turn_order_check(spark.read.parquet(str(input_path)))
    if n_bad:
        failures.append(f"turn_order_check: {n_bad} turns out of order")

    # 5. near-dup clusters over generated conversations are exactly the
    #    generator's: none split, merged, missing or added; every in-cluster
    #    pair verified (copies of one template share >= 0.84 of their
    #    distinct tokens, other conversations <= 0.12: clear of the 0.8
    #    threshold either way)
    want = {frozenset(c) for c in truth["clusters"]}
    members: dict = {}
    if io.exists(spark, "neardup_clusters"):
        for x in io.read(spark, "neardup_clusters").collect():
            members.setdefault(x.cluster, set()).add(x.doc_id)
    got = {frozenset(m) for m in members.values()
           if len(m) > 1 and any(d.startswith(gen.CONV_PREFIX) for d in m)}
    if got != want:
        failures.append(f"near-dup clusters: {len(want - got)} generated clusters not found,"
                        f" {len(got - want)} unexpected")
    pairs = sum(len(c) * (len(c) - 1) // 2 for c in truth["clusters"])
    if manifest["metrics"]["near_dup"]["new_edges"] != pairs:
        failures.append(f"near-dup verified pairs {manifest['metrics']['near_dup']['new_edges']}"
                        f" != {pairs} generated")
    return failures


# ---------------------------------------------------------------------------
# traced run: per-layer metrics
# ---------------------------------------------------------------------------

def prefix_probes(spark, transcripts, tm, dz) -> dict:
    """Lazy layers: send each layer's output to the noop sink in pipeline
    order, caching it on the way, so each write computes its layer on top
    of the cached outputs of the layers before it: the layer's increment
    over the previous prefix."""
    from pyspark.storagelevel import StorageLevel

    from smh_to_jsonld_spark.plans.pipeline import kg_pipeline_from_transcripts

    spark.sparkContext.setJobGroup("probe", "prefix probes")
    spark.catalog.clearCache()
    res = kg_pipeline_from_transcripts(spark, transcripts, tm, dz)
    out = {}
    for layer, key in [("extract", "mentions"), ("link", "facts"),
                       ("aggregates", "field_values"), ("emit", "model_docs"),
                       ("triples", "triples")]:
        df = res[key].persist(StorageLevel.MEMORY_AND_DISK)
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[f"{layer}.s"] = time.perf_counter() - t0
    spark.catalog.clearCache()
    return out


def link_counts(spark, transcripts) -> dict:
    from pyspark.sql import functions as F

    from smh_to_jsonld_spark.functions.dims import alias_dim
    from smh_to_jsonld_spark.operators import extract, link

    surfaces = (
        extract.extract_mentions(transcripts)
        .filter(F.col("kind") == "fact")
        .select(link.normalize_surface(F.col("f2")).alias("surface"))
        .distinct()
    ).localCheckpoint(eager=True)
    fuzzy = surfaces.join(alias_dim(spark).select(F.col("alias").alias("surface")),
                          "surface", "left_anti")
    return {"link.distinct_surfaces": surfaces.count(), "link.fuzzy_surfaces": fuzzy.count()}


def layer_metrics(tracer, manifest, job_s) -> dict:
    from smh_to_jsonld_spark.operators import dedup
    from spans import SPARK_KEYS

    spans = tracer.finished()
    by = lambda name, table=None: [s for s in spans if s["name"] == name
                                   and (table is None or s["table"] == table)]
    dur = lambda ss: sum(s["dur_s"] for s in ss)
    job = by("job")[0]
    nd = manifest["metrics"]["near_dup"]
    ent = manifest["metrics"]["entities"]
    # candidates: the job's own delta pairing call, verified at threshold 0
    cands = 0
    for args, kw in tracer.captured.get("dedup.delta_pairs", []):
        pairs, _ = dedup.delta_near_dup_pairs(*args, **{**kw, "threshold": 0.0})
        cands += pairs.count()
    cc_edges = sum(a[0].count() for a, _ in tracer.captured.get("canon.cc", []))
    writes = by("tables.write_data")
    spark_tot = {k: sum(s["spark"][k] for s in spans) for k in SPARK_KEYS}
    m = {
        "job.discover_s": dur(by("job.discover")),
        "pipeline.plan_s": dur(by("pipeline.plan")),
        "factory.exec_s": dur(by("tables.write_data", "triples")),
        "factory.triples": sum(manifest["metrics"]["partitions"].values()),
        "neardup.s": dur(by("neardup")),
        "neardup.signature_s": dur(by("tables.write_data", "doc_signatures")),
        "neardup.pairs_s": dur(by("dedup.delta_pairs")) + dur(by("neardup.pairs")),
        "neardup.new_docs": nd["new_docs"],
        "neardup.candidate_pairs": cands,
        "neardup.verified_pairs": nd["new_edges"],
        "neardup.verified_share": nd["new_edges"] / cands if cands else 0.0,
        "neardup.dropped_rows": nd["dropped_rows"],
        "canon.cc_s": dur(by("canon.cc")),
        "canon.cc_calls": len(by("canon.cc")),
        "canon.cc_edges": cc_edges,
        "entities.s": dur(by("entities")),
        "entities.new_surfaces": ent["new_surfaces"],
        "entities.fixpoint_edges": ent["cc_fixpoint_edges"],
        "graph.s": dur(by("emit.materialize_graph")) + dur(by("graph")),
        "tables.write_s": dur(writes),
        "tables.read_s": dur(by("tables.read")),
        "tables.commit_s": dur(by("tables.commit")),
        "tables.bytes_written": sum(s["bytes_written"] for s in writes),
        "tables.files_written": sum(s["files_written"] for s in writes),
        **{f"spark.{k}": v for k, v in spark_tot.items()},
        "trace.job_s": job_s,
        "trace.self_s": job["self_s"],
        "trace.overhead_s": tracer.overhead_s,
    }
    return m


def declared(values: dict, metrics: list) -> dict:
    """The BENCHMARK.json metrics, in its order, with its units."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metrics if m["name"] in values}


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def main() -> int:
    ap = argparse.ArgumentParser(description="resumable KG job benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    try:
        import gen
        from smh_to_jsonld_spark.plans import job
        from smh_to_jsonld_spark.sources.tables import TableIO
        with open(GOLDEN) as f:
            golden = {tuple(t) for t in json.load(f)}
        with open(ROOT / "BENCHMARK.json") as f:
            bench = json.load(f)
    except (ImportError, OSError) as e:
        print(f"perfbench: the engine sources are not here ({e})", file=sys.stderr)
        return 2

    spec = gen.Spec(**BASE_SPEC, **WORKLOADS[args.workload])
    run_dir = WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    sampler = MemorySampler()
    sampler.start()
    cpu0 = cpu_times()
    failures: list = []
    ops = []  # (job_s, turns, failures)
    result_layers: dict = {}
    check_s: list = []
    trace_s: dict = {}  # per-layer collection after the traced operation, by part
    spark = None
    try:
        t0 = time.perf_counter()
        spark, settings = start_session()
        session_s = time.perf_counter() - t0

        gen_s, digests = [], set()
        input_path = run_dir / "transcripts.parquet"
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            truth, dig, n_turns = make_input(spec, args.seed, input_path)
            gen_s.append(time.perf_counter() - t0)
            digests.add(dig)
        setup_s = session_s + statistics.median(gen_s)
        if len(digests) != 1:
            failures.append("generator: one seed gave different tables")
        tm, dz = config_dims(spark, spec)

        start = time.perf_counter()
        while not ops or time.perf_counter() - start < args.seconds:
            io = TableIO(str(run_dir / f"warehouse-{len(ops)}"))
            tracer = None
            if args.trace:
                from spans import Tracer

                tracer = Tracer(spark, op_id=f"op{len(ops)}")
                tracer.install()
            op_fail: list = []
            manifest = None
            try:
                transcripts = spark.read.parquet(str(input_path))
                t0 = time.perf_counter()
                manifest = job.run_resumable_kg_job(spark, transcripts, tm, dz, io,
                                                    lineage_note=f"perfbench:{args.workload}")
                job_s = time.perf_counter() - t0
            except Exception as e:  # an operation that raises counts as failed
                job_s = time.perf_counter() - t0
                op_fail.append(f"job raised {type(e).__name__}: {e}")
            finally:
                if tracer is not None:
                    tracer.uninstall()
            if manifest is not None:
                t_check = time.perf_counter()
                try:
                    op_fail += check_outputs(spark, io, manifest, truth, input_path, golden)
                except Exception as e:  # a check that cannot run is a failed check
                    op_fail.append(f"output check raised {type(e).__name__}: {e}")
                check_s.append(time.perf_counter() - t_check)
            ops.append((job_s, n_turns, op_fail))
            if tracer is not None and manifest is not None and not result_layers:
                t = [time.perf_counter()]
                tracer.collect_spark_metrics()
                t.append(time.perf_counter())
                result_layers = layer_metrics(tracer, manifest, job_s)
                t.append(time.perf_counter())
                result_layers.update(prefix_probes(spark, spark.read.parquet(str(input_path)), tm, dz))
                t.append(time.perf_counter())
                result_layers.update(link_counts(spark, spark.read.parquet(str(input_path))))
                t.append(time.perf_counter())
                trace_s = dict(zip(["stage_metrics", "counters", "prefix_probes", "link_counts"],
                                   [b - a for a, b in zip(t, t[1:])]))
                tracer.dump(WORK / f"trace-{args.workload}-{args.seed}.json",
                            {"workload": args.workload, "seed": args.seed,
                             "settings": settings, "metrics": result_layers})
            shutil.rmtree(io.root, ignore_errors=True)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        stop_s = time.perf_counter() - t_stop
        sampler.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    cpu = [b - a for a, b in zip(cpu0, cpu_times())]
    attempted = len(ops)
    failed = sum(1 for _, _, f in ops if f)
    for i, (_, _, f) in enumerate(ops):
        failures += [f"op{i}: {x}" for x in f]
    job_times = [j for j, _, _ in ops]
    e2e = {
        "job_s": statistics.median(job_times),
        "turns_per_s": statistics.median(t / j for j, t, _ in ops),
        "setup_s": setup_s,
        "peak_rss_mb": sampler.peak_kib / 1024.0,
    }
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = declared(result_layers if args.trace else e2e, wanted)
    if len(metrics) != len(wanted):
        failures.append(f"missing metrics: {sorted({m['name'] for m in wanted} - set(metrics))}")
    info = {
        "workload": args.workload, "seed": args.seed, "spec": vars(spec),
        "settings": settings, "session_s": session_s, "gen_s": gen_s,
        "check_s": check_s, "trace_s": trace_s, "stop_s": stop_s,
        "job_s_samples": job_times,
        # time the hypervisor gave the host's vCPUs to other guests: a
        # high share explains a slow run
        "host_steal_share": cpu[7] / max(1, sum(cpu)), "peak_pss_parts_kib": sampler.peak_parts,
        "error_rate": failed / attempted, "failures": failures,
    }
    print(json.dumps(info), file=sys.stderr)
    for k, m in declared(e2e, bench["end_to_end"]).items():
        print(f"{k} = {m['value']:.4f} {m['unit']}")
    print(f"error_rate = {failed / attempted:.4f} ratio ({failed}/{attempted})")
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
