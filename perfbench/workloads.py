"""The benchmark's workloads: cached inputs, the timed job, output checks and
the traced run's per-layer metrics.

Every workload is closed-loop: one thread of the Spark driver runs a job to
completion before it starts the next. Input sizes are constants, never
derived from the core count.

- ``crawl_fetch_corpus``: the composed path a crawl runs. Canonicalize messy
  seed URLs for 16 loopback hosts, commit round 0, run one round, fetch
  every scheduled URL from the in-process web fixture, extract, build the
  corpus. Inputs are a pure function of the seed.
- ``near_dup``: the shingle/sketch layer (MinHash chain, exact n-gram
  Jaccard, KMV) that the crawl never runs, over a fixed slice of the sf0.1
  ``documents`` table (``near_dup_documents.parquet``, whatever ``--seed``
  says), so its outputs can be compared with the DuckDB twins recorded in
  ``near_dup_oracle.json``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import urllib.parse
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import functions as F

from language_diversity_common_crawler_spark.frontier import crawl, fetch, urlgen
from language_diversity_common_crawler_spark.functions import dedup, sketches
from language_diversity_common_crawler_spark.functions.hashing import md5_60
from language_diversity_common_crawler_spark.plans.corpus import (
    pretrain_corpus_build,
)
from language_diversity_common_crawler_spark.plans.pipeline import (
    extract_pipeline,
)
from language_diversity_common_crawler_spark.sources import pages as pages_src

from tracing import EventLog, dur
from webfixture import N_HOSTS, LoopbackWeb, page_index

DIGEST_MOD = 1 << 40  # keeps the summed row hashes inside a BIGINT


class CheckFailed(Exception):
    """An output check failed: the job counts as a failed operation."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


@dataclass
class Job:
    """One timed job. ``steps`` are the per-round (crawl) or per-chain
    (near_dup) wall times that feed round_s_p50 / round_s_max."""
    ok: bool = False
    wall_s: float = 0.0
    steps: list[float] = field(default_factory=list)
    attempted: int = 1
    failed: int = 0
    span: dict | None = None
    info: dict = field(default_factory=dict)


class Ctx:
    """Per-run state shared by the workload hooks."""

    def __init__(self, work: str, cache: str, seed: int, cores: int,
                 tracer):
        self.work = work
        self.cache = cache
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.spark = None

    def cached(self, name: str) -> str:
        return os.path.join(self.cache, name)

    def stable_digest(self, key: str, digest: str) -> None:
        """Same seed ⇒ same digest, across jobs and across runs in this
        checkout: the first run records it, later runs must match."""
        path = self.cached(f"digests/{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                want = json.load(f)["digest"]
            check(want == digest,
                  f"{key}: digest {digest} differs from earlier run {want}")
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump({"digest": digest}, f)
        os.replace(tmp, path)


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:32]


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class Workload:
    """Hooks run.py calls. ``layers``: the per-layer metric prefixes this
    workload measures; metrics of other layers read 0 on it."""
    name = ""
    layers: tuple[str, ...] = ()
    MIN_JOBS = 1  # measured jobs per run, however short --seconds is
    WARMUP_JOBS = 0  # jobs run, and checked, as part of set-up

    def sizes(self) -> dict:
        return {k: v for k, v in vars(type(self)).items() if k.isupper()
                and isinstance(v, int)}

    def prepare(self, ctx: Ctx) -> None:
        """Generate (or load cached) inputs; not timed."""

    def stage(self, ctx: Ctx):
        """Load inputs into the state a job starts from; part of setup_s."""

    def unstage(self) -> None:
        """Release what stage() started outside Spark."""

    def job(self, ctx: Ctx, staged, i: int, job: Job) -> None:
        raise NotImplementedError

    def rounds(self, job: Job) -> tuple[float, float]:
        """(round_s_p50, round_s_max) of one job."""
        return statistics.median(job.steps), max(job.steps)

    def verify(self, ctx: Ctx, job: Job) -> None:
        """Check the job's output; raise CheckFailed on a mismatch."""

    def live(self, ctx: Ctx, job: Job) -> dict:
        """Traced runs: counts read from the live session after timing."""
        return {}

    def per_layer(self, ctx: Ctx, job: Job, ev: EventLog, live: dict) -> dict:
        raise NotImplementedError


# ---------------------------------------------------------------------------
# crawl helpers
# ---------------------------------------------------------------------------

def _run_crawl(ctx: Ctx, seeds, ckpt: str, rounds: int, budget: int,
               job: Job) -> list[dict]:
    """init + ``rounds`` committed rounds; checks that the manifests
    conserve n_frontier = prev n_frontier - n_scheduled + n_new."""
    tr = ctx.tracer
    with tr.span("frontier.crawl.init"):
        crawl.init_crawl(ctx.spark, seeds, ckpt)
    manifests = [crawl.read_manifest(ctx.spark, ckpt, 0)]
    for _ in range(rounds):
        with tr.span("frontier.crawl.round") as s:
            m = crawl.run_round(ctx.spark, ckpt, budget=budget)
        s["counts"].update(m)
        job.steps.append(dur(s))
        prev = manifests[-1]
        check(m["round"] == prev["round"] + 1, f"round {m['round']} skipped")
        check(
            m["n_frontier"] == prev["n_frontier"] - m["n_scheduled"]
            + m["n_new"],
            f"round {m['round']}: frontier count not conserved {m} {prev}",
        )
        check(m["n_scheduled"] > 0, f"round {m['round']} scheduled nothing")
        manifests.append(m)
    return manifests


def _check_order(order, manifests: list[dict]) -> dict:
    """crawl_order URLs are unique and cover every scheduled URL."""
    r = order.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("url_canon").alias("d"),
        F.sum(F.pmod(F.xxhash64("round", "host", "slot", "url_canon"),
                     F.lit(DIGEST_MOD))).alias("h"),
    ).collect()[0]
    n_sched = sum(m["n_scheduled"] for m in manifests)
    check(r["n"] == r["d"], f"crawl_order repeats URLs: {r['n']} rows, "
                            f"{r['d']} distinct")
    check(r["n"] == n_sched, f"crawl_order has {r['n']} rows, manifests "
                             f"scheduled {n_sched}")
    return {"n": int(r["n"]), "h": int(r["h"])}


def _crawl_live(ctx: Ctx, job: Job) -> dict:
    """Counts that need the live session (traced runs, after timing):
    jobs/stages per round from the status tracker by job group, and the
    candidates each round discovered."""
    st = ctx.spark.sparkContext.statusTracker()
    tr = ctx.tracer
    jobs = stages = 0
    rounds = tr.find("frontier.crawl.round", job.span)
    for s in rounds:
        for jid in st.getJobIdsForGroup(tr.group(s)):
            jobs += 1
            stages += len(st.getJobInfo(jid).stageIds)
    ckpt = job.info["ckpt"]
    discovered = sum(
        crawl.discover_children(
            ctx.spark.read.parquet(f"{ckpt}/rounds/r={k:04d}/scheduled")
        ).count()
        for k in range(1, len(rounds) + 1)
    )
    return {"jobs": jobs, "stages": stages, "discovered": discovered}


def _crawl_layers(ctx: Ctx, job: Job, ev: EventLog, live: dict) -> dict:
    tr = ctx.tracer
    rounds = tr.find("frontier.crawl.round", job.span)
    n = len(rounds)
    groups = {tr.group(s) for s in rounds}
    execs = ev.executions(groups)
    by_surface: dict[str, float] = {}
    for x in execs:
        sf = ev.surface(x)
        if sf is not None:
            by_surface[sf] = by_surface.get(sf, 0.0) + ev.seconds(x)
    writes_s = sum(by_surface.values())
    ckpt = job.info["ckpt"]
    manifests = job.info["manifests"]
    metrics_tbl = pq.read_table(
        f"{ckpt}/rounds/r={n:04d}/metrics", columns=["fill_ratio", "est_fpp"]
    ).to_pydict()
    py = ev.python_metrics(execs)
    round_bytes = [_dir_bytes(f"{ckpt}/rounds/r={k:04d}")
                   for k in range(1, n + 1)]
    seen_urls = sum(m["n_new"] for m in manifests)
    return {
        "frontier.crawl.jobs_per_round": live["jobs"] / n,
        "frontier.crawl.stages_per_round": live["stages"] / n,
        "frontier.crawl.overhead_s": (sum(dur(s) for s in rounds)
                                      - writes_s) / n,
        "frontier.crawl.frontier_rewrite_s": by_surface.get("frontier", 0) / n,
        "frontier.crawl.bytes_written_per_round": sum(round_bytes) / n,
        "frontier.crawl.state_bytes_per_seen_url":
            _dir_bytes(ckpt) / seen_urls,
        "frontier.scheduler.schedule_s": by_surface.get("scheduled", 0) / n,
        "frontier.seen.probe_s": by_surface.get("seen_delta", 0) / n,
        "frontier.seen.bloom_s": (by_surface.get("bloom", 0)
                                  + by_surface.get("bloom_words", 0)) / n,
        "frontier.seen.python_s": py["run_s"] / n,
        "frontier.seen.new_ratio":
            sum(m["n_new"] for m in manifests[1:]) / live["discovered"],
        "frontier.seen.bloom_fill_ratio":
            _median(metrics_tbl["fill_ratio"]),
        "frontier.seen.bloom_est_fpp": max(metrics_tbl["est_fpp"]),
    }


# ---------------------------------------------------------------------------
# crawl_fetch_corpus
# ---------------------------------------------------------------------------

class CrawlFetchCorpus(Workload):
    name = "crawl_fetch_corpus"
    layers = ("frontier.urlgen", "frontier.crawl", "frontier.scheduler",
              "frontier.seen", "frontier.fetch", "plans.pipeline",
              "functions.decode", "plans.corpus", "functions.packing")
    N_PAGES = 2_000   # generated page bodies the fixture serves
    N_SEEDS = 2_000   # seed URLs spread evenly over the 16 loopback hosts
    BUDGET = 100      # per host per round: 1,600 fetches per round
    ROUNDS = 1
    CORPUS_BUDGET = 64
    CORPUS_SHARDS = 8

    def prepare(self, ctx: Ctx) -> None:
        tag = f"s{ctx.seed}-n{self.N_PAGES}"
        pages_path = ctx.cached(f"crawl_fetch_corpus/pages-{tag}.parquet")
        if not os.path.exists(pages_path):
            rows = pages_src.generate_pages(self.N_PAGES, ctx.seed)
            os.makedirs(os.path.dirname(pages_path), exist_ok=True)
            pq.write_table(pa.table({
                "html": [r["html"] for r in rows],
                "http_charset": [r["http_charset"] for r in rows],
            }), pages_path + ".tmp")
            os.replace(pages_path + ".tmp", pages_path)
        golden_path = pages_src.write_golden_extract_parquet(
            ctx.cached(f"crawl_fetch_corpus/golden-{tag}.parquet"),
            self.N_PAGES, ctx.seed,
        )
        t = pq.read_table(pages_path).to_pydict()
        self.bodies = list(zip(t["html"], t["http_charset"]))
        g = pq.read_table(golden_path).to_pydict()
        # golden urls are .../p/<page number>; pages whose decode fails
        # have no golden row and must not reach the extract output
        self.golden = {
            int(u.rsplit("/", 1)[1]): (c, a, b, d)
            for u, c, a, b, d in zip(g["url"], g["content"], g["df_lang"],
                                     g["li_lang"], g["cld_lang"])
        }

    def stage(self, ctx: Ctx):
        self.web = LoopbackWeb(self.bodies, max_conns=ctx.cores).start()
        seeds = ctx.spark.createDataFrame(
            [(i, self._raw_url(i)) for i in range(self.N_SEEDS)],
            "seed_id long, url_raw string",
        ).persist(StorageLevel.MEMORY_AND_DISK)
        seeds.count()
        return seeds

    def _raw_url(self, i: int) -> str:
        """Seed URL ``i`` as a crawl would find it; canonical form is
        ``http://127.0.0.<h>:<port>/s/<i>``."""
        scheme = "HTTP" if i % 3 == 0 else "http"
        path = f"/x/../s/{i}" if i % 11 == 0 else f"/s/{i}"
        query = "?utm_source=feed&ref=home" if i % 5 == 0 else ""
        frag = "#top" if i % 7 == 0 else ""
        host = self.web.base_url(i % N_HOSTS).split("://", 1)[1]
        return f"{scheme}://{host}{path}{query}{frag}"

    def unstage(self) -> None:
        if getattr(self, "web", None) is not None:
            self.web.stop()

    def job(self, ctx: Ctx, raw, i: int, job: Job) -> None:
        spark, tr = ctx.spark, ctx.tracer
        ckpt = os.path.join(ctx.work, f"ckpt-{i}")
        pages_dir = os.path.join(ctx.work, f"pages-{i}")
        docs_dir = os.path.join(ctx.work, f"docs-{i}")
        job.info.update(ckpt=ckpt, pages=pages_dir, docs=docs_dir)
        self.web.waits = 0
        with tr.span("frontier.urlgen") as s:
            seeds = urlgen.with_canonical(raw).select("url_canon", "host")
            seeds = seeds.persist(StorageLevel.MEMORY_AND_DISK)
            s["counts"]["rows"] = seeds.count()
        manifests = _run_crawl(ctx, seeds, ckpt, self.ROUNDS, self.BUDGET,
                               job)
        seeds.unpersist()
        job.info["manifests"] = manifests
        with tr.span("frontier.fetch"):
            order = crawl.crawl_order(spark, ckpt)
            fetch.fetch_pages(
                order.select("url_canon", "host", "slot"),
                n_partitions=ctx.cores,
            ).write.mode("overwrite").parquet(pages_dir)
        with tr.span("plans.pipeline"):
            pages = spark.read.parquet(pages_dir)
            extract_pipeline(
                pages.withColumn("segment", F.lit("crawl"))
            ).select(
                md5_60(F.col("url")).alias("doc_id"),
                F.col("url"),
                F.col("content").alias("text"),
                F.col("df_lang").alias("lang"),
                urlgen.host_of_canon("url").alias("source"),
                "li_lang",
                "cld_lang",
            ).write.mode("overwrite").parquet(docs_dir)
        with tr.span("plans.corpus") as s:
            docs = spark.read.parquet(docs_dir).select(
                "doc_id", "text", "lang", "source"
            )
            packed = pretrain_corpus_build(
                docs, budget=self.CORPUS_BUDGET, n_shards=self.CORPUS_SHARDS
            )
            r = packed.agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("doc_id").alias("docs"),
                F.sum("n_tokens").alias("tokens"),
                F.sum(F.pmod(F.xxhash64(*packed.columns),
                             F.lit(DIGEST_MOD))).alias("h"),
            ).collect()[0]
            s["counts"].update(rows=r["n"], docs=r["docs"],
                               tokens=int(r["tokens"] or 0))
        job.info["corpus"] = (int(r["n"]), int(r["h"] or 0))
        job.info["order"] = _check_order(crawl.crawl_order(spark, ckpt),
                                         manifests)

    def verify(self, ctx: Ctx, job: Job) -> None:
        t = pq.read_table(
            job.info["pages"], columns=["url", "html", "status", "error"]
        ).to_pydict()
        n = len(t["url"])
        bad = sum(
            1 for h, st, err in zip(t["html"], t["status"], t["error"])
            if st != 200 or err is not None or h is None
        )
        job.attempted += n
        job.failed += bad
        check(n == job.info["order"]["n"],
              f"fetched {n} rows for {job.info['order']['n']} scheduled URLs")
        check(len(set(t["url"])) == n, "a URL was fetched twice")
        check(self.web.waits == 0,
              f"{self.web.waits} requests found all {self.web.max_conns} "
              f"connection slots taken")
        d = pq.read_table(
            job.info["docs"],
            columns=["url", "text", "lang", "li_lang", "cld_lang"],
        ).to_pydict()
        check(len(set(d["url"])) == len(d["url"]), "extract repeated a URL")
        want = {
            u for u in t["url"]
            if page_index(urllib.parse.urlsplit(u).path, self.N_PAGES)
            in self.golden
        }
        check(set(d["url"]) == want,
              f"extract kept {len(d['url'])} pages, golden keeps {len(want)}")
        for u, text, a, b, c in zip(d["url"], d["text"], d["lang"],
                                    d["li_lang"], d["cld_lang"]):
            idx = page_index(urllib.parse.urlsplit(u).path, self.N_PAGES)
            check((text, a, b, c) == self.golden[idx],
                  f"extract of {u} differs from golden page {idx}")
        sizes = _digest(sorted(self.sizes().items()))[:8]
        ctx.stable_digest(
            f"crawl_fetch_corpus-s{ctx.seed}-{sizes}-p{self.web.port}",
            _digest(([(m["n_frontier"], m["n_scheduled"], m["n_new"])
                      for m in job.info["manifests"]],
                     job.info["order"], job.info["corpus"])),
        )

    def live(self, ctx: Ctx, job: Job) -> dict:
        return _crawl_live(ctx, job)

    def per_layer(self, ctx: Ctx, job: Job, ev: EventLog, live: dict) -> dict:
        tr = ctx.tracer
        out = _crawl_layers(ctx, job, ev, live)
        (ug,) = tr.find("frontier.urlgen", job.span)
        (fs,) = tr.find("frontier.fetch", job.span)
        (ps,) = tr.find("plans.pipeline", job.span)
        (cs,) = tr.find("plans.corpus", job.span)
        t = pq.read_table(job.info["pages"],
                          columns=["html", "status", "error", "fetch_ms"])
        t = t.to_pydict()
        n_pages = len(t["html"])
        ms = t["fetch_ms"]
        bad = sum(1 for st, err in zip(t["status"], t["error"])
                  if st != 200 or err is not None)
        n_docs = pq.read_table(job.info["docs"], columns=["doc_id"]).num_rows
        py = ev.python_metrics(ev.executions({tr.group(ps)}),
                               ("ArrowEvalPython",))
        corpus_execs = ev.executions({tr.group(cs)})
        corpus_tasks = ev.tasks({tr.group(cs)})
        out.update({
            "frontier.urlgen.busy_s": dur(ug),
            "frontier.urlgen.rows": ug["counts"]["rows"],
            "frontier.fetch.busy_s": dur(fs),
            "frontier.fetch.pages": n_pages,
            "frontier.fetch.bytes": sum(len(h) for h in t["html"] if h),
            "frontier.fetch.fetch_ms_p50": statistics.median(ms),
            "frontier.fetch.fetch_ms_p99": statistics.quantiles(ms, n=100)[98],
            "frontier.fetch.error_frac": bad / n_pages,
            "plans.pipeline.busy_s": dur(ps),
            "plans.pipeline.python_s": py["run_s"],
            "plans.pipeline.arrow_bytes": py["sent_bytes"] + py["recv_bytes"],
            "plans.pipeline.python_boot_s": py["boot_s"],
            "functions.decode.drop_ratio": 1 - n_docs / n_pages,
            "plans.corpus.busy_s": dur(cs),
            "plans.corpus.exchanges": sum(
                EventLog.final_node_names(x).count("Exchange")
                for x in corpus_execs
            ),
            "plans.corpus.shuffle_write_bytes":
                corpus_tasks["shuffle_write_bytes"],
            "plans.corpus.spill_bytes": corpus_tasks["spill_bytes"],
            "plans.corpus.doc_yield": cs["counts"]["docs"] / n_docs,
            "functions.packing.tokens": cs["counts"]["tokens"],
        })
        return out


# ---------------------------------------------------------------------------
# near_dup
# ---------------------------------------------------------------------------

_HERE = os.path.dirname(os.path.abspath(__file__))
DOCS_PATH = os.path.join(_HERE, "near_dup_documents.parquet")
ORACLE_PATH = os.path.join(_HERE, "near_dup_oracle.json")


def table_digest(t: pa.Table) -> str:
    return _digest(sorted(zip(*t.to_pydict().values())))


class NearDup(Workload):
    name = "near_dup"
    layers = ("functions.dedup", "functions.sketches")
    # a cold job takes 3x a warm one (JIT and codegen): set-up runs one,
    # then warm jobs are measured
    MIN_JOBS = 2
    WARMUP_JOBS = 1
    N_DOCS = 1_000  # the lowest doc_ids of sf0.1 documents (oracle.py)
    MIN_JACCARD_BP = 2_000  # the __spark_entry__ queries' threshold
    MAX_DF = 200
    # result name -> oracle_sql() key of its DuckDB twin
    ORACLE = {
        "lsh_candidates": "minhash_lsh_pairs",
        "verified": "minhash_jaccard_verified",
        "survivors": "minhash_dedup_survivors",
        "ngram": "ngram_jaccard_pairs",
        "kmv": "kmv_shingle_cardinality",
    }

    def prepare(self, ctx: Ctx) -> None:
        with open(ORACLE_PATH) as f:
            rec = json.load(f)
        docs = pq.read_table(DOCS_PATH)
        check(docs.num_rows == self.N_DOCS
              and rec["documents"] == table_digest(docs),
              f"{ORACLE_PATH} was recorded for another documents table")
        self.oracle = rec["digests"]

    def stage(self, ctx: Ctx):
        # spread over the cores, as the __spark_entry__ queries do
        docs = ctx.spark.read.parquet(DOCS_PATH).repartition(ctx.cores)
        docs = docs.persist(StorageLevel.MEMORY_AND_DISK)
        docs.count()
        return docs

    def job(self, ctx: Ctx, docs, i: int, job: Job) -> None:
        tr = ctx.tracer
        res = {}
        with tr.span("functions.dedup.minhash") as s:
            pairs = dedup.lsh_candidate_pairs(dedup.minhash_signatures(docs))
            pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
            res["lsh_candidates"] = pairs.collect()
            verified = dedup.jaccard_verified_pairs(
                docs, pairs, min_jaccard_bp=self.MIN_JACCARD_BP
            ).persist(StorageLevel.MEMORY_AND_DISK)
            res["verified"] = verified.collect()
            res["survivors"] = dedup.minhash_dedup_survivors(
                docs, verified
            ).collect()
            s["counts"].update(candidates=len(res["lsh_candidates"]),
                               verified=len(res["verified"]))
        job.steps.append(dur(s))
        verified.unpersist()
        pairs.unpersist()
        with tr.span("functions.dedup.ngram") as s:
            res["ngram"] = dedup.ngram_jaccard_pairs(
                docs, min_jaccard_bp=self.MIN_JACCARD_BP, max_df=self.MAX_DF
            ).collect()
        job.steps.append(dur(s))
        with tr.span("functions.sketches.kmv") as s:
            res["kmv"] = sketches.kmv_shingle_cardinality(docs).collect()
        job.steps.append(dur(s))
        job.info["digests"] = {
            k: _digest(sorted(tuple(r) for r in rows))
            for k, rows in res.items()
        }

    def rounds(self, job: Job) -> tuple[float, float]:
        # a step is one chain; p50 is the MinHash chain's, so that it always
        # reads the same chain
        return job.steps[0], max(job.steps)

    @classmethod
    def record_oracle(cls, path: str) -> dict:
        """Digests of the DuckDB twins over the documents table at
        ``path``: the content of ORACLE_PATH (perfbench/oracle.py)."""
        import duckdb

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duckdb.connect()
        try:
            quoted = path.replace("'", "''")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{quoted}')")
            digests = {
                k: _digest(sorted(con.execute(sql[key]).fetchall()))
                for k, key in cls.ORACLE.items()
            }
        finally:
            con.close()
        return {"documents": table_digest(pq.read_table(path)),
                "digests": digests}

    def verify(self, ctx: Ctx, job: Job) -> None:
        for k, want in self.oracle.items():
            check(job.info["digests"][k] == want,
                  f"near_dup {k} differs from its DuckDB twin "
                  f"{self.ORACLE[k]}")

    def per_layer(self, ctx: Ctx, job: Job, ev: EventLog, live: dict) -> dict:
        tr = ctx.tracer
        (ms,) = tr.find("functions.dedup.minhash", job.span)
        (ng,) = tr.find("functions.dedup.ngram", job.span)
        (km,) = tr.find("functions.sketches.kmv", job.span)
        join_rows = [
            vals.get("number of output rows", 0)
            for x in ev.executions({tr.group(ng)})
            for name, vals in ev.nodes(x)
            if "Join" in name
        ]
        cand = ms["counts"]["candidates"]
        return {
            "functions.dedup.minhash_s": dur(ms),
            "functions.dedup.lsh_candidates": cand,
            "functions.dedup.verified_pairs": ms["counts"]["verified"],
            "functions.dedup.verify_yield":
                ms["counts"]["verified"] / cand if cand else 0.0,
            "functions.dedup.ngram_s": dur(ng),
            # the postings self-join is the largest join output (Σ df²)
            "functions.dedup.ngram_join_rows": max(join_rows, default=0),
            "functions.sketches.kmv_s": dur(km),
            "functions.sketches.kmv_shuffle_bytes":
                ev.tasks({tr.group(km)})["shuffle_write_bytes"],
        }


WORKLOADS = {w.name: w for w in (CrawlFetchCorpus, NearDup)}


def cleanup_job(job: Job) -> None:
    """Drop a finished job's on-disk outputs (untimed)."""
    for key in ("ckpt", "pages", "docs"):
        if key in job.info:
            shutil.rmtree(job.info[key], ignore_errors=True)
