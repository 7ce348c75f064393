"""The benchmark's workloads. Each drives the program's public entry
points from outside and returns an ``Outcome``.

Untraced runs call the entry points exactly as a user does. Traced runs
replay the same composition one public layer call at a time, forcing
each call's output inside its own span, so the layer walls and Spark
job counts can be attributed; the forcing is part of what
``trace.overhead_s`` reports.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field
from typing import Callable

import inputs

KG_BUILD_DOCS = 100
RAG_DOCS = 100
RAG_KG_SEED = 0  # the served KG's document subset; the run seed picks requests
RAG_ROUTES = ("plain", "gate")
RAG_MODE = "chunk_only"
RAG_TOP_K = 5
STAGES = ("chunks", "extracted", "entities", "cmap", "nodes", "mentions", "triples")

# Per-layer span names and the figures each reports. Parent spans report
# jobs and tasks including their children.
LAYER_FIELDS = {
    "extraction.occurrences": ("wall_s", "jobs", "tasks", "rows"),
    "normalize.surface_map": ("wall_s", "jobs", "tasks", "rows"),
    "normalize.mentions": ("wall_s", "jobs", "tasks", "rows"),
    "linking.dedup": ("wall_s", "jobs", "tasks", "rows"),
    "linking.link": ("wall_s", "jobs", "tasks", "rows"),
    "materialize.canonical_map": ("wall_s", "jobs", "tasks", "rows"),
    "materialize.s2c": ("wall_s", "jobs", "tasks", "rows"),
    "materialize.triples": ("wall_s", "jobs", "tasks", "rows"),
    "materialize.nodes": ("wall_s", "jobs", "tasks", "rows"),
    "materialize.mentions": ("wall_s", "jobs", "tasks", "rows"),
    "chunking.chunks": ("wall_s", "jobs", "tasks", "rows"),
    "embeddings.chunks": ("wall_s", "jobs", "tasks", "rows"),
    "query_analysis": ("wall_s",),
    "graph_rag.retrieve": ("wall_s", "jobs", "tasks", "rows"),
    "generation.sources": ("wall_s", "jobs", "tasks", "rows"),
    "generation.metadata": ("wall_s", "jobs"),
    "graph_rag.batch.retrieve": ("wall_s", "jobs", "tasks", "rows"),
    "graph_rag.batch.sources": ("wall_s", "jobs", "tasks", "rows"),
    "pipeline.build": ("wall_s", "jobs", "tasks"),
    "graph_rag.query": ("wall_s", "jobs", "tasks"),
    "graph_rag.batch": ("wall_s", "jobs", "tasks"),
}
PARENT_SPANS = ("pipeline.build", "graph_rag.query", "graph_rag.batch")
_UNITS = {"wall_s": "s", "jobs": "count", "tasks": "count", "rows": "count", "bytes": "bytes"}
# every per-layer metric a traced run reports, with its unit
PER_LAYER = (
    [(f"{name}.{f}", _UNITS[f]) for name, fields in LAYER_FIELDS.items() for f in fields]
    + [(f"pipeline.stage.{s}.{f}", _UNITS[f]) for s in STAGES for f in ("wall_s", "bytes")]
    + [("pipeline.run.jobs", "count"), ("pipeline.resume.jobs", "count"),
       ("trace.layer_share", "ratio"), ("trace.overhead_s", "s")]
)


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    latency_s: float = 0.0
    throughput_per_s: float = 0.0
    # per cycle: the summed wall of its timed ops (the build, or the
    # requests and the batch), and in traced runs the summed wall of the
    # layer spans under them
    op_s: list[float] = field(default_factory=list)
    layer_sum_s: list[float] = field(default_factory=list)
    named: dict[str, tuple[float, str, int]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    # (label, check) pairs run after the timed phase and the memory window;
    # a check returns (failed op count, message)
    deferred: list[tuple[str, Callable[[], tuple[int, str]]]] = field(default_factory=list)

    def fail(self, label: str) -> None:
        self.failed += 1
        print(f"perfbench: {label} failed", flush=True)
        traceback.print_exc()


@dataclass
class Ctx:
    spark: object
    tracer: object
    seed: int
    seconds: float
    work: str
    digest: str
    setup_done: Callable[[], None]
    # wall of the one-time KG build this run waited for (0 if none);
    # setup_s leaves it out
    one_time_s: float


def _forced(tracer, name: str, make, persist: bool = True):
    with tracer.span(name) as sp:
        df = make()
        if persist:
            df = df.persist()
        sp.rows = df.count()
    return df


def _timed_loop(seconds: float, cycle: Callable[[], float], out: Outcome, tracer) -> None:
    """Run whole cycles until ``seconds`` have passed; at least one.
    ``cycle`` returns the summed wall of its timed ops."""
    deadline = time.perf_counter() + seconds
    while not out.op_s or time.perf_counter() < deadline:
        first = len(tracer.spans)
        out.op_s.append(cycle())
        if tracer.enabled:
            new = tracer.spans[first:]
            parents = {sp.sid for sp in new if sp.name in PARENT_SPANS}
            out.layer_sum_s.append(sum(sp.wall for sp in new if sp.parent in parents))


# ---------------------------------------------------------------- kg_build


def _build(spark, docs):
    """``run_in_memory``, forced the way ``bench.py``'s kg_pipeline leaf
    forces it: a triples count, then nodes and mentions in one job."""
    import pyspark.sql.functions as F

    from graphrag_spark.pipeline import run_in_memory

    out = run_in_memory(spark, docs)
    out["triples"].count()
    counts = dict(
        out["nodes"].select(F.lit("n").alias("k"))
        .unionAll(out["mentions"].select(F.lit("m").alias("k")))
        .groupBy("k").count().collect()
    )
    cached = [out[k] for k in ("extracted", "cmap", "entities", "mentions_norm")]
    return out["triples"], counts.get("n", 0), counts.get("m", 0), cached


def _build_traced(tracer, spark, docs):
    """The occurrence path of ``run_in_memory``, one layer call per span."""
    from graphrag_spark import extraction, linking, materialize, normalize
    from graphrag_spark.chunking import CHUNK_OVERLAP, CHUNK_SIZE
    from graphrag_spark.corpus import document_text

    occ = _forced(tracer, "extraction.occurrences", lambda: extraction.extract_occurrences_from_docs(
        document_text(docs), CHUNK_SIZE, CHUNK_OVERLAP).repartition("chunk_id"))
    smap = _forced(tracer, "normalize.surface_map",
                   lambda: normalize.materialize_surface_map(occ), persist=False)
    mentions_norm = _forced(tracer, "normalize.mentions", lambda: normalize.normalize_mentions(
        extraction.entities_from_occurrences(occ), smap))
    deduped = _forced(tracer, "linking.dedup", lambda: linking.dedup_entities(mentions_norm))
    entities = _forced(tracer, "linking.link", lambda: linking.link_entities(
        deduped, linking.alias_dictionary(spark)))
    cmap = _forced(tracer, "materialize.canonical_map", lambda: materialize.canonical_map(entities))
    s2c = _forced(tracer, "materialize.s2c",
                  lambda: materialize.surface_to_canonical_map(smap, cmap), persist=False)
    triples = _forced(tracer, "materialize.triples",
                      lambda: materialize.build_triples_from_occurrences(occ, s2c), persist=False)
    _forced(tracer, "materialize.nodes", lambda: materialize.build_nodes(cmap), persist=False)
    n_nodes = tracer.spans[-1].rows
    _forced(tracer, "materialize.mentions",
            lambda: materialize.build_mentions(mentions_norm, cmap), persist=False)
    n_mentions = tracer.spans[-1].rows
    return triples, n_nodes, n_mentions, [occ, mentions_norm, deduped, entities, cmap]


def kg_build(ctx: Ctx) -> Outcome:
    """Cold ``run_in_memory`` over a seeded document subset."""
    from graphrag_spark.corpus import spans_from_flat
    from graphrag_spark.oracle.refport import triple_keys

    spark, tracer = ctx.spark, ctx.tracer
    docs = spans_from_flat(inputs.flat_docs(spark, inputs.doc_ids(ctx.seed, KG_BUILD_DOCS))).persist()
    n_docs = docs.count()
    ctx.setup_done()

    out = Outcome()
    results = []
    walls: list[float] = []

    def cycle() -> float:
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            if tracer.enabled:
                with tracer.span("pipeline.build"):
                    triples, n_nodes, n_mentions, cached = _build_traced(tracer, spark, docs)
            else:
                triples, n_nodes, n_mentions, cached = _build(spark, docs)
            wall = time.perf_counter() - t0
            keys = triple_keys([r.asDict() for r in triples.select("subj", "pred", "obj").collect()])
            for df in cached:
                df.unpersist()
        except Exception:
            out.fail("build")
            return 0.0
        walls.append(wall)
        results.append((keys, n_nodes, n_mentions))
        return wall

    _timed_loop(ctx.seconds, cycle, out, tracer)
    if walls:
        out.latency_s = statistics.median(walls)
        out.throughput_per_s = n_docs / out.latency_s
        out.named["build_s"] = (out.latency_s, "s", len(walls))

    def check() -> tuple[int, str]:
        ref = _reference(ctx, docs, f"{ctx.seed}-{KG_BUILD_DOCS}")
        verdicts = [inputs.check_kg(*r, ref) for r in results]
        bad = [why for ok, why in verdicts if not ok]
        return len(bad), bad[0] if bad else "ok"

    out.deferred.append(("kg_build vs refport", check))
    return out


def _reference(ctx: Ctx, docs, key: str) -> dict:
    rows = [(r["doc_id"], r["spans"]) for r in docs.select("doc_id", "spans").collect()]
    return inputs.reference(rows, os.path.join(ctx.work, "oracle", f"{ctx.digest}-{key}.json"))


# ---------------------------------------------------------------- rag_serve


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def kg_dir(work: str, digest: str) -> str:
    """rag_serve's served KG for one source version. Each digest keeps
    its own, so runs of two versions of the program can alternate in
    one checkout without rebuilding."""
    return os.path.join(work, f"rag-{digest}")


def build_kg(spark, tracer, base: str) -> None:
    """Build the served KG with ``KGPipeline.run`` (the deployed build
    job), rerun it once to time the resume check, and record both runs'
    figures in ``build.json``."""
    from graphrag_spark.corpus import write_corpus
    from graphrag_spark.pipeline import KGPipeline

    corpus = os.path.join(base, "corpus")
    store = os.path.join(base, "kg")
    flat = os.path.join(base, "flat")
    inputs.flat_docs(spark, inputs.doc_ids(RAG_KG_SEED, RAG_DOCS)).write.mode("overwrite").parquet(flat)
    write_corpus(spark, flat, corpus)
    with tracer.span("pipeline.run", always=True) as sp:
        pipe = KGPipeline(spark, corpus, store)
        pipe.run()
    with tracer.span("pipeline.resume", always=True) as resume:
        KGPipeline(spark, corpus, store).run()
    record = {
        "checkpoint_s": sp.wall,
        "stage_times": pipe.stage_times,
        "jobs": sp.jobs,
        "resume_s": resume.wall,
        "resume_jobs": resume.jobs,
        "stage_bytes": {s: _dir_bytes(os.path.join(store, s)) for s in STAGES},
        "input_bytes": _dir_bytes(corpus),
    }
    with open(os.path.join(base, "build.json"), "w") as f:
        json.dump(record, f)


def _request(ctx: Ctx, kg, qid: str, text: str, traced: bool) -> set:
    """One graph-RAG request; returns its source records."""
    from graphrag_spark import graph_rag

    if not traced:
        res = graph_rag.graph_rag_query(*kg, text, retrieval_mode=RAG_MODE, top_k=RAG_TOP_K)
        rows = res["sources"].collect()
        res["retrieved"].unpersist()
        return {tuple(r) for r in rows}
    # graph_rag_query's node chain for a non-reasoning mode, one span per
    # layer call (simple/chunk_only modes skip the reasoning node)
    from graphrag_spark.generation import prepare_sources, response_metadata
    from graphrag_spark.query_analysis import py_analyze_query, py_detect_follow_up

    chunks, nodes, mentions, _triples = kg
    tracer = ctx.tracer
    with tracer.span("graph_rag.query", request=qid):
        with tracer.span("query_analysis"):
            analysis = py_analyze_query(text)
            analysis.update(py_detect_follow_up(text))
        retrieved = _forced(tracer, "graph_rag.retrieve", lambda: graph_rag.retrieve_documents(
            *kg, text, retrieval_mode=RAG_MODE, top_k=RAG_TOP_K))
        with tracer.span("generation.sources") as sp:
            rows = prepare_sources(retrieved, chunks, mentions, nodes).collect()
            sp.rows = len(rows)
        with tracer.span("generation.metadata"):
            response_metadata(retrieved, analysis)
    retrieved.unpersist()
    return {tuple(r) for r in rows}


def _batch(ctx: Ctx, kg, qdf) -> dict[str, set]:
    """One ``batch_graph_rag_query`` call over the request table;
    returns its source records per query_id."""
    from graphrag_spark import graph_rag

    if not ctx.tracer.enabled:
        rows = graph_rag.batch_graph_rag_query(
            *kg, qdf, retrieval_mode=RAG_MODE, top_k=RAG_TOP_K)["sources"].collect()
    else:
        from graphrag_spark.generation import prepare_sources

        chunks, nodes, mentions, _triples = kg
        tracer = ctx.tracer
        with tracer.span("graph_rag.batch"):
            with tracer.span("graph_rag.batch.retrieve") as sp:
                retrieved = graph_rag.batch_retrieve_documents(
                    *kg, qdf, retrieval_mode=RAG_MODE, top_k=RAG_TOP_K
                ).localCheckpoint(eager=True)
                sp.rows = retrieved.count()
            with tracer.span("graph_rag.batch.sources") as sp:
                rows = prepare_sources(retrieved, chunks, mentions, nodes, keys=["query_id"]).collect()
                sp.rows = len(rows)
    by_query: dict[str, set] = {}
    for r in rows:
        by_query.setdefault(r["query_id"], set()).add(tuple(r)[1:])
    return by_query


def _trace_chunks(ctx: Ctx, corpus: str) -> None:
    """The chunks stage's two layer calls, forced one per span."""
    from graphrag_spark import chunking
    from graphrag_spark.corpus import document_text
    from graphrag_spark.embeddings import embed_chunks

    docs = ctx.spark.read.parquet(corpus)
    chunks = _forced(ctx.tracer, "chunking.chunks", lambda: chunking.with_quality(
        chunking.chunk_documents(document_text(docs))))
    emb = _forced(ctx.tracer, "embeddings.chunks", lambda: embed_chunks(chunks))
    emb.unpersist()
    chunks.unpersist()


def rag_serve(ctx: Ctx) -> Outcome:
    """A closed-loop client over the stored KG, then the same requests
    as one batch call."""
    import pyspark.sql.functions as F

    spark = ctx.spark
    base = kg_dir(ctx.work, ctx.digest)
    with open(os.path.join(base, "build.json")) as f:
        record = json.load(f)
    tables = [spark.read.parquet(os.path.join(base, "kg", t)) for t in ("chunks", "nodes", "mentions", "triples")]
    if ctx.tracer.enabled:
        _trace_chunks(ctx, os.path.join(base, "corpus"))
    kg = [df.persist() for df in tables]
    union = kg[0].select(F.lit(0).alias("t"))
    for df in kg[1:]:
        union = union.unionAll(df.select(F.lit(0).alias("t")))
    union.count()
    # a gated warm-up would steady the gated request but costs ~7 s
    # more per run than the run budget leaves
    warm, *reqs = inputs.requests(ctx.seed, ("plain",) + RAG_ROUTES)
    qdf = spark.createDataFrame([(q, text) for q, _r, text in reqs], "query_id string, query string")
    _request(ctx, kg, warm[0], warm[2], traced=False)
    ctx.setup_done()

    out = Outcome(attempted=1)  # the KG open, checked against refport below
    batch_s: list[float] = []
    by_route: dict[str, list[float]] = {route: [] for route in RAG_ROUTES}
    mismatches: list[str] = []

    def cycle() -> float:
        single: dict[str, set] = {}
        ops = 0.0
        for qid, route, text in reqs:
            out.attempted += 1
            try:
                t0 = time.perf_counter()
                single[qid] = _request(ctx, kg, qid, text, ctx.tracer.enabled)
                wall = time.perf_counter() - t0
            except Exception:
                out.fail(f"request {qid}")
                continue
            by_route[route].append(wall)
            ops += wall
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            batched = _batch(ctx, kg, qdf)
            batch_s.append(time.perf_counter() - t0)
        except Exception:
            out.fail("batch")
            return ops
        # the batch must reproduce each per-request source set
        bad = [q for q in single if batched.get(q, set()) != single[q]]
        if bad:
            mismatches.append(",".join(bad))
        return ops + batch_s[-1]

    _timed_loop(ctx.seconds, cycle, out, ctx.tracer)
    if all(by_route.values()):
        # every route weighs the same, whatever its share of the pool
        medians = [statistics.median(walls) for walls in by_route.values()]
        out.latency_s = statistics.mean(medians)
        for (route, walls), med in zip(by_route.items(), medians):
            out.named[f"query_p50_s.{route}"] = (med, "s", len(walls))
    if batch_s:
        out.throughput_per_s = len(reqs) / statistics.median(batch_s)
        out.named["batch_queries_per_s"] = (out.throughput_per_s, "1/s", len(batch_s))
    if ctx.one_time_s:
        out.named["kg_once_s"] = (ctx.one_time_s, "s", 1)
        out.named["checkpoint_s"] = (record["checkpoint_s"], "s", 1)
        out.named["resume_s"] = (record["resume_s"], "s", 1)
    out.named["stored_bytes_per_input_byte"] = (
        sum(record["stage_bytes"].values()) / record["input_bytes"], "ratio", 1)
    if ctx.tracer.enabled:
        for stage in STAGES:
            out.layers[f"pipeline.stage.{stage}.wall_s"] = record["stage_times"].get(stage, 0.0)
            out.layers[f"pipeline.stage.{stage}.bytes"] = record["stage_bytes"][stage]
        out.layers["pipeline.run.jobs"] = record["jobs"]
        out.layers["pipeline.resume.jobs"] = record["resume_jobs"]

    def check_batch() -> tuple[int, str]:
        return len(mismatches), f"batch sources differ for {mismatches[0]}" if mismatches else "ok"

    out.deferred.append(("batch == per-request sources", check_batch))
    check_path = os.path.join(base, "check.json")

    def check_kg() -> tuple[int, str]:
        # the served KG is checked once against refport when it is built
        if not os.path.exists(check_path):
            from graphrag_spark.oracle.refport import triple_keys

            ref = _reference(ctx, spark.read.parquet(os.path.join(base, "corpus")), f"rag-{RAG_DOCS}")
            got = triple_keys([r.asDict() for r in kg[3].select("subj", "pred", "obj").collect()])
            ok, why = inputs.check_kg(got, kg[1].count(), kg[2].count(), ref)
            with open(check_path, "w") as f:
                json.dump({"ok": ok, "why": why}, f)
        with open(check_path) as f:
            verdict = json.load(f)
        return (0 if verdict["ok"] else 1), verdict["why"]

    out.deferred.append(("served KG vs refport", check_kg))
    return out


WORKLOADS = {"kg_build": kg_build, "rag_serve": rag_serve}


def needs_kg(workload: str, work: str, digest: str) -> bool:
    """Whether a run must first build rag_serve's KG, which makes it
    about twice as long as a normal run."""
    return workload == "rag_serve" and not os.path.exists(os.path.join(kg_dir(work, digest), "build.json"))
