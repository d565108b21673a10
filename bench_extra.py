"""Per-query isolation bench for the optimization rounds (guide §1).

``bench.py`` is FROZEN for driver measurement; this harness exists so a
single query can be measured (and its plan captured) without paying the
full suite + scaling phases.  Methodology mirrors bench.py: same session
settings, same query definitions, same actions, warm-up + median-of-3
with min/max recorded.  Numbers cited in OPTIMIZATION_r06.md for
iteration come from here; final before/after evidence comes from full
``bench.py`` runs.

Usage:
    python bench_extra.py [query ...]            # default: all
    python bench_extra.py --plans plans/r06 --suffix _before [query ...]
    python bench_extra.py --runs 5 graph_pagerank

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32), BENCH_AMPLIFY (default 40).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graby_spark.extract import ExtractOptions
from graby_spark.job import run_extraction, resolve_multipage
from graby_spark.operators import cluster, dedup, graph, pii, similarity, textstats
from graby_spark.pages import build_multipage_pages_df, build_pages_df, pages_ruleset
from graby_spark.session import get_spark

OPTS = ExtractOptions(xss_filter=False)


def timed_stats(fn, runs: int = 3):
    fn()  # warm-up, untimed
    samples = []
    for _ in range(runs):
        start = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - start)
    samples.sort()
    return {
        "min": round(samples[0], 3),
        "median": round(samples[len(samples) // 2], 3),
        "max": round(samples[-1], 3),
        "runs": runs,
    }


def build_queries(spark, sf_dir: str):
    """name -> (build_df_or_None, action) — mirrors bench.py's operator
    suite.  ``build`` returns the DataFrame (for plan capture) where the
    query shape permits; ``action`` runs the same action bench.py times."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    zipf = docs.selectExpr(
        "doc_id",
        "concat(text, ' the of and to in is it that was a an on for as by at be this') as text",
    )
    para_docs = docs.selectExpr(
        "doc_id",
        "concat('SHARED HEADER', chr(10), chr(10), text, chr(10), chr(10), "
        "CASE WHEN doc_id % 2 = 0 THEN 'SHARED FOOTER' ELSE concat('u', cast(doc_id as string)) END) as text",
    )

    def _pagerank_edges():
        ids = docs.select("doc_id")
        n = ids.count()
        return (
            ids.selectExpr("doc_id as src", f"(doc_id*31+7) % {n} as dst")
            .union(
                ids.where("doc_id % 2 = 0").selectExpr(
                    "doc_id as src", f"(doc_id*17+3) % {n} as dst"
                )
            )
            .union(
                ids.where("doc_id % 10 = 0").selectExpr(
                    "doc_id as src", "doc_id % 7 as dst"
                )
            )
            .where("src != dst")
        )

    def _media_df():
        import numpy as np
        import pandas as pd
        from pyspark.sql import functions as F

        @F.pandas_udf("binary")
        def gen_png(ids):
            from graby_spark.operators.multimodal import encode_png

            out = []
            for mid in ids:
                mid = int(mid)
                w, h, c = 16 + mid % 33, 16 + mid % 17, [1, 3][mid % 2]
                arr = (
                    ((mid * 31 + np.arange(w * h * c)) % 256)
                    .astype(np.uint8)
                    .reshape(h, w, c)
                )
                out.append(encode_png(arr))
            return pd.Series(out)

        return (
            spark.range(20000)
            .repartition(64)
            .select(F.col("id").alias("media_id"))
            .withColumn("payload", gen_png("media_id"))
        )

    def _extract_table():
        amplify = int(os.environ.get("BENCH_AMPLIFY", "40"))
        path = "/dev/shm/graby-bench-pages-extra.parquet"
        if not os.path.isdir(path):
            build_pages_df(spark, sf_dir, repeat=amplify).write.mode(
                "overwrite"
            ).parquet(path)
        pages = spark.read.parquet(path)
        return run_extraction(
            spark,
            pages,
            pages_ruleset(),
            options=OPTS,
            columns=["url", "title", "language", "is_success", "bytes_in", "extract_ms"],
        )

    from graby_spark.operators import multimodal

    builders = {
        "extract_full": lambda: _extract_table(),
        "multipage_stitch": lambda: resolve_multipage(
            run_extraction(
                spark, build_multipage_pages_df(spark, sf_dir), pages_ruleset(), options=OPTS
            )
        ),
        "dedup_exact": lambda: dedup.exact_duplicates(docs),
        "dedup_jaccard_zipf": lambda: dedup.ngram_jaccard_pairs(
            zipf, threshold=0.8, max_df=0.5
        ),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(docs, threshold=0.9),
        "dedup_simhash": lambda: dedup.simhash(docs),
        "ann_topk": lambda: similarity.brute_force_topk(
            emb, emb.where("vec_id < 50"), k=10
        ),
        "ann_topk_lsh": lambda: similarity.lsh_topk(emb, emb.where("vec_id < 50"), k=10),
        "embed_kmeans": lambda: cluster.kmeans_embeddings(emb, k=16, n_iter=2),
        "dedup_semantic": lambda: dedup.semantic_dedup(
            emb, n_clusters=16, threshold=0.4, n_iter=2
        ),
        "ann_ivfpq": lambda: similarity.ivfpq_topk(
            emb, emb.where("vec_id < 50"), k=10, n_cells=16, nprobe=3
        ),
        "ann_ivf_sq8": lambda: similarity.ivf_sq8_topk(
            emb, emb.where("vec_id < 50"), k=10, n_cells=16, nprobe=2, n_iter=2
        ),
        "text_quality": lambda: textstats.quality_score(docs),
        "text_classifier": lambda: textstats.linear_quality_score(docs),
        "text_langid": lambda: textstats.language_id(docs),
        "text_repetition": lambda: textstats.repetition_stats(docs),
        "text_gopher": lambda: textstats.gopher_quality_filter(docs),
        "dedup_paragraphs": lambda: dedup.paragraph_dedup(para_docs),
        "text_pii": lambda: pii.pii_scrub(docs),
        "media_decode_png": lambda: multimodal.png_pixel_stats(_media_df()),
        "graph_pagerank": lambda: graph.pagerank(_pagerank_edges(), n_iter=10),
        "agg_lineitem": lambda: li.where("l_shipdate <= '1998-09-02'")
        .groupBy("l_returnflag", "l_linestatus")
        .agg({"l_quantity": "sum", "l_extendedprice": "sum", "*": "count"}),
    }
    collect_actions = {"agg_lineitem"}
    count_where = {"extract_full": "is_success"}
    return builders, collect_actions, count_where


def main() -> None:
    args = [a for a in sys.argv[1:]]
    plans_dir = None
    suffix = ""
    runs = 3
    rest = []
    i = 0
    while i < len(args):
        if args[i] == "--plans":
            plans_dir = args[i + 1]
            i += 2
        elif args[i] == "--suffix":
            suffix = args[i + 1]
            i += 2
        elif args[i] == "--runs":
            runs = int(args[i + 1])
            i += 2
        else:
            rest.append(args[i])
            i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")

    builders, collect_actions, count_where = build_queries(spark, sf_dir)
    names = rest or list(builders)
    unknown = [n for n in names if n not in builders]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}; known: {sorted(builders)}")

    # one warm-up extraction pass (bench.py parity: JVM + python workers)
    run_extraction(
        spark, build_pages_df(spark, sf_dir, repeat=1), pages_ruleset(), options=OPTS
    ).count()

    results = {}
    for name in names:
        build = builders[name]
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            df = build()
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            with open(os.path.join(plans_dir, f"{name}{suffix}.txt"), "w") as fh:
                fh.write(plan)

        if name in collect_actions:
            action = lambda b=build: b().collect()
        elif name in count_where:
            action = lambda b=build, w=count_where[name]: b().where(w).count()
        else:
            action = lambda b=build: b().count()
        results[name] = timed_stats(action, runs=runs)
        spark.sparkContext.setJobDescription(None)
        print(name, json.dumps(results[name]), flush=True)

    print(json.dumps({"queries": results, "sf_dir": sf_dir, "cpus": cpus}))
    spark.stop()


if __name__ == "__main__":
    main()
