"""Post-extraction operators, timed in traced runs: the registry's curation
queries over seeded ``documents`` / ``embeddings`` tables, each checked
against its DuckDB ``oracle_sql`` twin."""

from __future__ import annotations

import os
import random
import time

from perfbench.spark_env import WORK
from perfbench.tracing import last_execution_id, metric_sum, sql_metrics
from perfbench.workloads import _LANGS, seeded_text

#: per-layer metric name -> registry query that wraps the operator
OPERATORS = {
    "textstats.gopher_quality_filter": "text_gopher",
    "dedup.exact_duplicates": "dedup_exact",
    "dedup.minhash_lsh_pairs": "dedup_minhash_lsh",
    "dedup.semantic_dedup": "dedup_semantic",
    "similarity.ivfpq_topk": "ann_ivfpq",
    "similarity.ivf_sq8_topk": "ann_ivf_sq8",
    "graph.pagerank": "graph_pagerank",
}


#: table size: the minhash oracle is an all-pairs Jaccard in DuckDB (41 s
#: at 500 rows on 4 cores)
N_DOCS = 200
DIM = 64  # embedding width
N_LABELS = 10  # embedding clusters


def generate(spark, seed: int) -> str:
    """documents(doc_id, text, lang, source, n_chars) and
    embeddings(vec_id, embedding, label) with ids 0..N_DOCS-1 (the
    registry's link graph assumes dense ids); content comes from the seed."""
    import numpy as np
    import pandas as pd

    rng = random.Random(seed)
    docs = []
    for i in range(N_DOCS):
        text = seeded_text(rng, 40, 560)
        docs.append((i, text, rng.choice(_LANGS), f"src{i % 20}", len(text)))
    gen = np.random.default_rng(seed)
    centers = gen.normal(0.0, 0.15, (N_LABELS, DIM))
    labels = gen.integers(0, N_LABELS, N_DOCS)
    vecs = (centers[labels] + gen.normal(0.0, 0.05, (N_DOCS, DIM))).astype(np.float32)
    sf_dir = os.path.join(WORK, "curation_sf")
    spark.createDataFrame(
        pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source", "n_chars"])
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/documents.parquet")
    spark.createDataFrame(
        pd.DataFrame(
            {"vec_id": np.arange(N_DOCS, dtype=np.int64), "embedding": list(vecs),
             "label": labels.astype(np.int32)}
        ),
        "vec_id long, embedding array<float>, label int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    return sf_dir


def _same(got, expected) -> bool:
    """Same columns and the same rows in any order, as the oracle gate
    (tools/check_oracles.py) compares them."""
    from tools.check_oracles import normalize

    return sorted(got.columns) == sorted(expected.columns) and normalize(got) == normalize(expected)


def run(spark, tracer, seed: int) -> tuple[dict, int, int]:
    """Cold pass, then one timed pass per operator.  Returns
    (per-layer metrics, rows attempted, rows failed)."""
    import importlib

    import duckdb

    sf_dir = generate(spark, seed)
    registry = importlib.import_module("__spark_entry__")
    queries, oracles = registry.queries(), registry.oracle_sql()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'")

    metrics: dict[str, float] = {}
    attempted = failed = 0
    for layer, q in OPERATORS.items():
        queries[q](spark, sf_dir).collect()  # cold: JIT, worker imports
        before = last_execution_id(spark)
        tracer.run_id = f"curation-{q}"
        started = time.perf_counter()
        with tracer.span(layer):
            got = queries[q](spark, sf_dir).toPandas()
        metrics[f"{layer}_s"] = time.perf_counter() - started
        if q == "dedup_minhash_lsh":
            m = sql_metrics(spark, before)
            metrics["dedup.minhash_lsh_shuffle_mb"] = (
                metric_sum(m, "Exchange", "shuffle bytes written") / 1e6
            )
        expected = con.execute(oracles[q]).df()
        rows = max(len(expected), len(got), 1)
        attempted += rows
        if not _same(got, expected):
            failed += rows
    con.close()
    return metrics, attempted, failed
