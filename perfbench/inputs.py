"""Seeded benchmark inputs and the correctness reference.

The document pool is ``data/documents.parquet``: a byte-for-byte copy of
the sf0.1 test data's flat ``documents.parquet`` (5,000 rows of
``doc_id:int64, text, lang, source, n_chars``), kept next to the
benchmark so a run reads nothing outside its checkout. A seed only
chooses which doc_ids a run uses. The program's own corpus layer
(``corpus.spans_from_flat`` / ``corpus.write_corpus``) turns the flat
rows into the spans table, so input synthesis is the same code path the
pipeline CLI uses.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

POOL = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")
POOL_DOCS = 5000

_FACTUAL = ["what is {a}", "who is {a}", "where is {a}", "what is {a} known for"]
_GATED = ["compare {a} versus {b}", "{a} vs {b}", "contrast {a} with {b}"]
# Hub entities: corpus mentions are Zipf-drawn from the vocabulary, so
# the first names occur in most documents and requests hit the graph.
_HUB_ENTITIES = 40


def doc_ids(seed: int, n: int) -> list[int]:
    rng = np.random.RandomState(seed)
    return sorted(int(i) for i in rng.choice(POOL_DOCS, size=n, replace=False))


def flat_docs(spark, ids: list[int]):
    """The pool's flat rows for ``ids``, as ``(doc_id, text)``."""
    import pyspark.sql.functions as F

    return spark.read.parquet(POOL).filter(F.col("doc_id").isin(ids)).select("doc_id", "text")


def requests(seed: int, routes: tuple[str, ...]) -> list[tuple[str, str, str]]:
    """(query_id, route, text) per route slot.

    ``plain`` requests analyze as factual/simple and take the plain
    retrieval dispatcher; ``gate`` requests analyze as comparative and
    take the graph-expansion gate. Texts are redrawn until the
    program's own analyzer puts them on the intended route, so the
    route mix is the same for every seed. Query ids are strings: an int
    ``query_id`` makes the batch path raise ``KeyError``."""
    from graphrag_spark.query_analysis import py_analyze_query
    from graphrag_spark.vocab import build_vocabulary

    names = [e.canonical_name for e in build_vocabulary()[0][:_HUB_ENTITIES]]
    rng = np.random.RandomState(seed)
    out = []
    for i, route in enumerate(routes):
        templates = _FACTUAL if route == "plain" else _GATED
        while True:
            a, b = rng.choice(len(names), size=2, replace=False)
            text = templates[rng.randint(len(templates))].format(a=names[a], b=names[b])
            an = py_analyze_query(text)
            gated = an["complexity"] == "complex" or an["query_type"] == "comparative"
            if gated == (route == "gate") and (gated or an["query_type"] == "factual"):
                break
        out.append((f"q{i}", route, text))
    return out


def source_digest(root: str) -> str:
    """Digest of the program and benchmark sources: keys every on-disk
    cache, so an edit to either invalidates what was built from it."""
    h = hashlib.sha256()
    for top in ("graphrag_spark", "perfbench"):
        for dirpath, dirnames, files in os.walk(os.path.join(root, top)):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    h.update(os.path.relpath(path, root).encode())
                    with open(path, "rb") as f:
                        h.update(f.read())
    return h.hexdigest()[:16]


def triple_digest(keys) -> str:
    return hashlib.sha256("\n".join("\t".join(k) for k in sorted(keys)).encode()).hexdigest()


def reference(doc_rows, cache_path: str) -> dict:
    """The ``refport`` oracle's KG for ``doc_rows`` ([(doc_id, spans)]):
    sorted triple keys, their digest, and node / mention counts in the
    pipeline's units (distinct canonical names; distinct
    (chunk, canonical name) pairs). Cached at ``cache_path``."""
    if os.path.exists(cache_path):
        with open(cache_path) as f:
            return json.load(f)
    from graphrag_spark.oracle.refport import run_oracle, triple_keys

    res = run_oracle(doc_rows)
    keys = sorted(triple_keys(res.triples))
    ref = {
        "triple_keys": keys,
        "triples_sha": triple_digest(keys),
        "nodes": len({res.cmap[k].upper() for k, _t in res.entities}),
        "mentions": len({(c, res.cmap[k].upper()) for c, k in res.mentions}),
    }
    os.makedirs(os.path.dirname(cache_path), exist_ok=True)
    tmp = f"{cache_path}.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(ref, f)
    os.replace(tmp, cache_path)
    return ref


def check_kg(got: set, n_nodes: int, n_mentions: int, ref: dict, gate: float = 0.95) -> tuple[bool, str]:
    """``got``: the pipeline's ``refport.triple_keys``. An exact digest
    match passes; otherwise triple P and R must both reach ``gate``.
    Node and mention counts must match exactly."""
    want = {tuple(k) for k in ref["triple_keys"]}
    if triple_digest(got) != ref["triples_sha"]:
        tp = len(got & want)
        p = tp / len(got) if got else 0.0
        r = tp / len(want) if want else 0.0
        if p < gate or r < gate:
            return False, f"triple P/R {p:.4f}/{r:.4f} below {gate}"
    if n_nodes != ref["nodes"]:
        return False, f"nodes {n_nodes} != reference {ref['nodes']}"
    if n_mentions != ref["mentions"]:
        return False, f"mentions {n_mentions} != reference {ref['mentions']}"
    return True, "ok"
