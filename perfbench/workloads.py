"""Seeded workloads: input generation (untimed, materialized to parquet),
the timed job, and the per-job output check.

``real_pages``  the recorded pages under ``fixtures/content`` and the three
                golden ``fixtures/sites/*.test`` pages, amplified with
                seeded, id-shifted urls; scan -> run_extraction(
                repartition=False) -> url, title, text, is_success.
``crawl_sink``  synthetic crawl (skewed host mix, multipage chains,
                single-page pairs, ~1% of 100x inflated pages) through the
                user-default pipeline: salted extraction, single-page and
                multipage resolution, manifest write and a resume pass.
"""

from __future__ import annotations

import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

from perfbench.spark_env import ROOT, WORK

_WORDS = (
    "key agg row scan slow fast table value part hash merge batch line sort "
    "window spark order data column join small customer query big stream "
    "filter group vector the a of to in shard crawl page text index token"
).split()
_LANGS = ["en", "en", "en", "es", "zh", "de", "fr"]


def seeded_text(rng: random.Random, lo: int = 60, hi: int = 520) -> str:
    target = rng.randint(lo, hi)
    words: list[str] = []
    n = 0
    while n < target:
        w = rng.choice(_WORDS)
        words.append(w)
        n += len(w) + 1
    return " ".join(words)


def normalize_ws(text: str) -> str:
    """Reference plain-text normalization (tests/test_golden.py)."""
    return re.sub(r"[ \t\r\n]+", " ", re.sub(r"<[^>]+>", " ", text)).strip()


@dataclass
class JobResult:
    wall_s: float
    docs: int
    input_bytes: int
    rows: int = 0
    failed: int = 0
    layers: dict = field(default_factory=dict)  # span / count extras
    last_execution: int | None = None  # last SQL execution of the timed region, when traced
    traced: bool = False


# ---------------------------------------------------------------------------
# real_pages
# ---------------------------------------------------------------------------

#: recorded fixture -> (url, content type); urls and types as the
#: fixture tests drive them, the rest at a neutral host by file type
_FIXTURE_URLS = {
    "20minutes-authors.html": "https://www.20minutes.fr/sport/football/2282359-20180601-video-france-italie-bleus-ambiancent-regalent-va-essayer-trop-enflammer",
    "20minutes-jsonld.html": "http://www.20minutes.fr/sport/football/2155935-20171022-stade-rennais-portugais-paulo-fonseca-remplacer-christian-gourcuff",
    "bjori-404.html": "https://bjori.blogspot.com/201",
    "blog-oracle.html": "https://blogs.oracle.com/dave/java-contended-annotation-to-help-reduce-false-sharing",
    "framablog.html": "https://framablog.org/2017/12/02/avancer-ensemble-vers-la-contribution/",
    "gist-xss.html": "https://gist.githubusercontent.com/nicosomb/94d1e08c42baff9184c313d638de1195/raw/x/gistfile1.txt",
    "keithjgrant.html": "https://keithjgrant.com/posts/2018/06/resilient-declarative-contextual/",
    "lemonde-date.html": "https://www.lemonde.fr/economie/article/2011/07/05/moody-s-abaisse-la-note-du-portugal-de-quatre-crans_1545237_3234.html",
    "liberation-authors.html": "https://www.liberation.fr/planete/2017/04/05/donald-trump-et-xi-jinping-tentative-de-flirt-en-floride_1560768",
    "malformed_UTF8_characters.txt": "http://www.ais.org/~jrh/acn/text/ACN8-1.txt",
    "rollingstone.html": "https://www.rollingstone.com/?redirurl=/politics/news/greed-and-debt-20120829",
    "timothysykes-keepol.html": "https://www.timothysykes.com/blog/10-things-know-short-selling/",
    "https___www.clubic.com_carte-graphique_carte-graphique-amd_article-478936-1-radeon-hd-7750-7770.html": "https://www.clubic.com/carte-graphique/carte-graphique-amd/article-478936-1-radeon-hd-7750-7770.html",
    "https___www.lemonde.fr_actualite-medias_article_2015_04_12_radio-france-vers-une-sortie-du-conflit_4614610_3236.html": "https://www.lemonde.fr/actualite-medias/article/2015/04/12/radio-france-vers-une-sortie-du-conflit_4614610_3236.html",
    "https___www.motherjones.com_politics_2012_02_mac-mcclelland-free-online-shipping-warehouses-labor_.html": "https://www.motherjones.com/politics/2012/02/mac-mcclelland-free-online-shipping-warehouses-labor/",
    "https___www.presseportal.de_pm_103258_2930232.html": "https://www.presseportal.de/pm/103258/2930232",
    "https___www.xataka.com_movilidad_coches-vendidos-2023-2024-espana.html": "https://www.xataka.com/movilidad/coches-vendidos-2023-2024-espana",
    "http___www.newstown.co.kr_news_articleView.html_idxno_243722.html": "http://www.newstown.co.kr/news/articleView.html?idxno=243722",
}
_TYPE_BY_EXT = {".pdf": "application/pdf", ".jpg": "image/jpeg", ".txt": "text/plain"}
_UTF8_PAGES = {
    "framablog.html",
    "https___www.clubic.com_carte-graphique_carte-graphique-amd_article-478936-1-radeon-hd-7750-7770.html",
    "https___www.lemonde.fr_actualite-medias_article_2015_04_12_radio-france-vers-une-sortie-du-conflit_4614610_3236.html",
    "https___www.motherjones.com_politics_2012_02_mac-mcclelland-free-online-shipping-warehouses-labor_.html",
    "https___www.presseportal.de_pm_103258_2930232.html",
    "https___www.xataka.com_movilidad_coches-vendidos-2023-2024-espana.html",
    "http___www.newstown.co.kr_news_articleView.html_idxno_243722.html",
}
GOLDENS = ("lemonde", "blogger", "lifehacker")


def real_fixtures() -> list[dict]:
    """The 24 recorded pages plus the three golden pages, each with its
    url and content type; goldens carry their expected title and text."""
    from tests.golden import load_golden

    content = os.path.join(ROOT, "fixtures", "content")
    out = []
    for name in sorted(os.listdir(content)):
        with open(os.path.join(content, name), "rb") as fh:
            body = fh.read()
        ext = os.path.splitext(name)[1]
        ctype = _TYPE_BY_EXT.get(ext, "text/html")
        if name in _UTF8_PAGES:
            ctype = "text/html; charset=UTF-8"
        url = _FIXTURE_URLS.get(name, f"https://sweep.example/{name}")
        out.append({"name": name, "html": body, "url": url, "content_type": ctype})
    for name in GOLDENS:
        case = load_golden(name)
        out.append(
            {
                "name": f"{name}.test",
                "html": case.raw_content,
                "url": case.url,
                "content_type": case.header,
                "golden_title": case.title,
                "golden_text": normalize_ws(case.parsed_content),
            }
        )
    return out


def _shift_url(url: str, doc_id: int) -> str:
    sep = "&" if "?" in url else "?"
    return f"{url}{sep}pb={doc_id}"


class RealPages:
    name = "real_pages"
    columns = ["url", "title", "text", "is_success"]
    curation = True  # traced runs also time the curation operators
    min_jobs = 3  # timed jobs per untraced run at least, whatever --seconds says
    # job times still fall over the second job: each reused Python worker
    # warms its own caches on the pages its tasks get
    warm_jobs = 2

    def __init__(self, copies: int) -> None:
        self.copies = copies

    def generate(self, spark, seed: int) -> None:
        import pandas as pd
        from graby_spark.extract import ExtractOptions, extract_one
        from graby_spark.siteconfig import load_ruleset

        self.ruleset = load_ruleset(os.path.join(ROOT, "fixtures", "site_config"))
        self.options = ExtractOptions(xss_filter=False)  # golden parity mode
        self.fixtures = real_fixtures()
        # per-fixture reference from the single-page path, checked against
        # the goldens byte-exact
        self.expected = []
        for fx in self.fixtures:
            r = extract_one(
                fx["html"], fx["url"], self.ruleset, content_type=fx["content_type"],
                options=self.options,
            )
            ref = (r.title, r.text, bool(r.is_success))
            if "golden_title" in fx and ref[:2] != (fx["golden_title"], fx["golden_text"]):
                ref = ("<golden mismatch>", None, True)
            self.expected.append(ref)
        # the seed shifts the ids; row order stays copy-major, so every seed
        # gets the same file layout and stragglers do not vary by seed
        base = random.Random(seed).randrange(1, 10**9)
        rows, self.fixture_of = [], {}
        for k in range(self.copies):
            for j, fx in enumerate(self.fixtures):
                doc_id = base + k * len(self.fixtures) + j
                url = _shift_url(fx["url"], doc_id)
                self.fixture_of[url] = j
                rows.append((url, fx["html"], fx["content_type"], 200))
        pdf = pd.DataFrame(rows, columns=["url", "html", "content_type", "http_status"])
        self.docs = len(rows)
        self.input_bytes = sum(len(r[1]) for r in rows)
        self.path = os.path.join(WORK, "real_pages.parquet")
        n_files = 2 * spark.sparkContext.defaultParallelism
        spark.createDataFrame(pdf).repartition(n_files).write.mode("overwrite").parquet(self.path)

    def replay_rows(self, spark, seed: int) -> list[dict]:
        """Every fixture once, the mix each job has."""
        return [dict(fx) for fx in self.fixtures]

    def extraction(self, spark, columns):
        from graby_spark.job import run_extraction

        pages = spark.read.parquet(self.path)
        return run_extraction(
            spark, pages, self.ruleset, options=self.options, repartition=False, columns=columns
        )

    def run_job(self, spark, tracer, iteration: int) -> JobResult:
        started = time.perf_counter()
        with tracer.span("job.run_extraction"):
            got = self.extraction(spark, self.columns).toPandas()
        wall = time.perf_counter() - started
        res = JobResult(wall, self.docs, self.input_bytes, rows=self.docs)
        res.failed = self.check(got)
        return res

    def check(self, got) -> int:
        """Rows missing, duplicated or differing from their fixture's
        reference."""
        failed = 0
        seen = set()
        for url, title, text, ok in got[self.columns].itertuples(index=False):
            j = self.fixture_of.get(url)
            if j is None or url in seen or (title, text, bool(ok)) != self.expected[j]:
                failed += 1
            if j is not None:
                seen.add(url)
        return failed + (self.docs - len(seen))


# ---------------------------------------------------------------------------
# crawl_sink
# ---------------------------------------------------------------------------


def _write_documents(spark, path: str, docs: list[tuple]) -> None:
    import pandas as pd

    pdf = pd.DataFrame(docs, columns=["doc_id", "text", "lang", "source", "n_chars"])
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(path)


class CrawlSink:
    name = "crawl_sink"
    min_jobs = 2  # timed jobs per untraced run at least, whatever --seconds says
    warm_jobs = 1
    n_buckets = 64
    # synthetic documents behind the table (about 1.4 pages each); at a few
    # hundred some manifest bucket holds no root row (see README.md)
    base_docs = 2000
    hot_share = 0.7  # rows on the one hot host
    tail_share = 0.01  # inflated pages, as a share of all pages
    tail_repeat = 100  # text inflation of a tail page

    def generate(self, spark, seed: int) -> None:
        import duckdb
        from graby_spark.extract import ExtractOptions
        from graby_spark.pages import (
            build_multipage_pages_df,
            build_pages_df,
            build_singlepage_pages_df,
            oracle_pages_cte,
            pages_ruleset,
        )
        from graby_spark.siteconfig import load_ruleset

        rng = random.Random(seed)
        self.options = ExtractOptions()  # the user default
        # the synthetic domains plus the vendored configs, as a crawl job
        # configures it (tools/submit_job.py)
        self.ruleset = pages_ruleset()
        for host, cfg in load_ruleset(os.path.join(ROOT, "fixtures", "site_config")).configs.items():
            self.ruleset.configs.setdefault(host, cfg)
        # seed-shifted ids; residue 0 (mod 4) is configured.example.com, so
        # the residue draw sets the host mix: one host carries hot_share
        shift = (seed % 1000) * 1_000_000
        n_tail = max(1, round(self.base_docs * 1.4 * self.tail_share))

        def draw(i: int) -> tuple:
            residue = 0 if rng.random() < self.hot_share else rng.randint(1, 3)
            doc_id = shift + 4 * i + residue
            text = seeded_text(rng)
            return (doc_id, text, rng.choice(_LANGS), f"src{doc_id % 20}", len(text))

        base = [draw(i) for i in range(self.base_docs)]
        tail = [draw(self.base_docs + i) for i in range(n_tail)]
        base_dir = os.path.join(WORK, "crawl_docs")
        tail_dir = os.path.join(WORK, "crawl_tail_docs")
        _write_documents(spark, f"{base_dir}/documents.parquet", base)
        _write_documents(spark, f"{tail_dir}/documents.parquet", tail)
        pages = (
            build_pages_df(spark, base_dir)
            .unionByName(build_multipage_pages_df(spark, base_dir))
            .unionByName(build_singlepage_pages_df(spark, base_dir))
            .unionByName(build_pages_df(spark, tail_dir, text_repeat=self.tail_repeat))
        )
        self.path = os.path.join(WORK, "crawl_pages.parquet")
        pages.write.mode("overwrite").parquet(self.path)
        stats = spark.read.parquet(self.path).selectExpr(
            "count(*) as n", "sum(octet_length(html)) as b"
        ).collect()[0]
        self.docs, self.input_bytes = int(stats["n"]), int(stats["b"])

        # construction oracle: pages.oracle_pages_cte plus the registry's
        # multipage / single-page expectations, in DuckDB
        con = duckdb.connect()
        con.execute(f"CREATE VIEW base_docs AS SELECT * FROM '{base_dir}/documents.parquet/*.parquet'")
        con.execute(
            f"CREATE VIEW tail_docs AS SELECT doc_id, "
            f"array_to_string(list_transform(range({self.tail_repeat}), i -> text), ' ') AS text, "
            f"lang FROM '{tail_dir}/documents.parquet/*.parquet'"
        )
        norm = "trim(regexp_replace({}, '[ \\t\\r\\n]+', ' ', 'g'))"
        cte = oracle_pages_cte()
        half = "cast(floor(length(text)/2) as int)"
        rows = con.execute(
            f"""
            WITH documents AS (SELECT * FROM base_docs), {cte}
            SELECT url, title, expected_text FROM expected
            UNION ALL
            SELECT * FROM (WITH documents AS (SELECT * FROM tail_docs), {cte}
                           SELECT url, title, expected_text FROM expected)
            UNION ALL
            SELECT 'http://serial.example.com/article/' || doc_id, 'Serial ' || doc_id,
                   {norm.format(f"left(text, {half}) || ' ' || substr(text, {half} + 1)")}
            FROM base_docs WHERE doc_id % 10 = 0
            UNION ALL
            SELECT 'http://printable.example.com/article/' || doc_id || sfx, 'Printable ' || doc_id,
                   {norm.format("text")}
            FROM base_docs, (VALUES (''), ('/print')) s(sfx) WHERE doc_id % 10 = 5
            """
        ).fetchall()
        con.close()
        self.expected = {url: (title, text) for url, title, text in rows}

    def replay_rows(self, spark, seed: int) -> list[dict]:
        """A fixed, seeded tenth of the table."""
        sample = spark.read.parquet(self.path).where(f"pmod(xxhash64(url, {seed}), 10) = 0")
        return [
            {"url": r.url, "html": bytes(r.html), "content_type": r.content_type, "lang": r.lang}
            for r in sample.select("url", "html", "content_type", "lang").toPandas().itertuples(index=False)
        ]

    def extraction(self, spark, columns):
        from graby_spark.job import run_extraction

        return run_extraction(
            spark, spark.read.parquet(self.path), self.ruleset, options=self.options, columns=columns
        )

    def run_job(self, spark, tracer, iteration, staged: bool = False) -> JobResult:
        """The pipeline as a user writes it.  ``staged`` materializes each
        stage's input first so that each span covers only its own stage
        (traced runs only; the timed jobs run unstaged)."""
        from pyspark.sql import functions as F

        from graby_spark.job import resolve_multipage, resolve_single_page, run_extraction
        from graby_spark.manifest import filter_resumable, write_with_manifest
        from perfbench.tracing import last_execution_id

        out_dir = os.path.join(WORK, f"crawl_out_{iteration}")
        manifest_dir = os.path.join(WORK, f"crawl_manifest_{iteration}")
        started = time.perf_counter()
        pages = spark.read.parquet(self.path)
        with tracer.span("job.run_extraction"):
            extracted = run_extraction(spark, pages, self.ruleset, options=self.options)
            if staged:
                extracted = extracted.localCheckpoint(eager=True)
        with tracer.span("singlepage.resolve"):
            single = resolve_single_page(spark, pages, extracted, self.ruleset, options=self.options)
            if staged:
                single = single.localCheckpoint(eager=True)
        with tracer.span("multipage.resolve"):
            merged = resolve_multipage(single)
        # the manifest records input bytes per bucket; the stitched rows
        # take them from their root page
        sized = merged.join(
            pages.select("url", F.octet_length("html").cast("long").alias("bytes_in")), "url", "left"
        )
        with tracer.span("manifest.write"):
            summary = write_with_manifest(
                spark, sized, out_dir, manifest_dir, n_buckets=self.n_buckets
            )
        with tracer.span("manifest.resume"):
            remaining = filter_resumable(spark, pages, manifest_dir, n_buckets=self.n_buckets)
            redo = run_extraction(spark, remaining.drop("bucket"), self.ruleset, options=self.options)
            write_with_manifest(spark, redo, out_dir, manifest_dir, n_buckets=self.n_buckets)
        wall = time.perf_counter() - started
        # the check below runs Spark actions of its own; keep them out of the job's SQL metrics
        timed_upto = last_execution_id(spark) if tracer.enabled else None

        # rows the resume pass found: the manifest as of the first write (the
        # resume write refreshes every plan that reads the manifest path)
        left = filter_resumable(
            spark, pages, manifest_dir, n_buckets=self.n_buckets,
            as_of_snapshot=summary["snapshot_id"],
        ).count()
        got = spark.read.parquet(out_dir).select(
            "url", "title", "text", "is_success", "page_count"
        ).toPandas()
        res = JobResult(
            wall, self.docs, self.input_bytes, rows=len(self.expected), last_execution=timed_upto
        )
        res.failed = self.check(got, summary, left)
        res.layers = {
            "manifest.buckets": float(
                spark.read.parquet(manifest_dir).select("bucket").distinct().count()
            ),
            "manifest.output_mb": _dir_bytes(out_dir) / 1e6,
            "manifest.resume_rows_left": float(left),
            "multipage.hops": float(got["page_count"].max() - 1),
        }
        shutil.rmtree(out_dir, ignore_errors=True)
        shutil.rmtree(manifest_dir, ignore_errors=True)
        return res

    def staged_pass(self, spark, tracer) -> JobResult:
        tracer.run_id = "staged"
        res = self.run_job(spark, tracer, "staged", staged=True)
        totals = tracer.totals(prefix="staged")
        for span, key in (
            ("singlepage.resolve", "singlepage.resolve_s"),
            ("multipage.resolve", "multipage.resolve_s"),
            ("manifest.write", "manifest.write_s"),
            ("manifest.resume", "manifest.resume_s"),
        ):
            res.layers[key] = totals[span]["total"]
        return res

    def check(self, got, summary: dict, left: int) -> int:
        """Rows missing or differing from the construction oracle.  A job
        whose row count is not the number of distinct root urls, or whose
        resume pass found rows left, fails all of its rows."""
        if (
            len(got) != len(self.expected)
            or got["url"].nunique() != len(got)
            or left != 0
            or summary["urls"] != len(self.expected)
        ):
            return len(self.expected)
        failed = 0
        for url, title, text, ok, _ in got.itertuples(index=False):
            if not ok or self.expected.get(url) != (title, text):
                failed += 1
        return failed


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


WORKLOADS = {
    "real_pages": lambda: RealPages(copies=6),
    "crawl_sink": CrawlSink,
}
