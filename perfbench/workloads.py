"""The two workloads: seeded inputs → timed load → open service →
closed-loop reads. Traced runs add an untimed warm-up before the loop
and a write/compaction tail after it.

``Bench.run()`` returns ``(metrics, attempted, failed)``; metrics map a
name to ``(value, unit)``.
"""

from __future__ import annotations

import itertools
import os
import random
import statistics
import time
from contextlib import contextmanager

from . import checks, corpora, stream
from .cpu import tree_cpu_s
from .trace import Tracer, layer_seconds, union_seconds

SIZES = {  # input docs per workload: (full, smoke)
    "serve-web": (1500, 300),
    "serve-zipf": (8000, 1500),
}
WARM_UP_BLOCKS = {"serve-web": 1, "serve-zipf": 2}  # traced runs, untimed
SAMPLED_DOCS = 60  # docs whose terms seed co-occurring query pairs
CHECKED_PER_RUN = 2  # relational checks of loop responses per run
EXPLAINED_PER_RUN = 4  # bm25 searches re-run through explain() (traced)
OVERHEAD_PAIRS = 6  # untraced/traced request pairs (traced)
TRACED_PAIRS_UNTIL_S = 140  # beyond 2 pairs, none after this run time
MiB = 2**20


def median(xs):
    return statistics.median(xs) if xs else 0.0


def iqm(xs):
    """Interquartile mean: the mean of the middle half. As robust to a
    few outliers as the median, but it averages over many reads, so it
    does not jump from one request kind's latency to another's."""
    xs = sorted(xs)
    k = len(xs) // 4
    return statistics.fmean(xs[k:len(xs) - k]) if xs else 0.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Op:
    """One timed operation and what the traced run learned about it."""

    __slots__ = ("req", "wall", "cpu", "ok", "repeat", "resp", "err",
                 "spans", "spark")

    def __init__(self, req, wall, cpu, ok, repeat, resp, err):
        self.req, self.wall, self.cpu = req, wall, cpu
        self.ok, self.repeat = ok, repeat
        self.resp, self.err = resp, err
        self.spans: list = []
        self.spark: dict = {}


class Bench:
    def __init__(self, spark, workload: str, seed: int, seconds: float,
                 traced: bool, smoke: bool, work: str, t_process: float):
        self.spark, self.workload, self.seed = spark, workload, seed
        self.seconds, self.traced, self.work = seconds, traced, work
        self.smoke = smoke
        self.t_process = t_process
        self.kind = "zipf" if workload == "serve-zipf" else "web"
        # serve-web serves every endpoint, so it needs the snippet text
        # and the static rank. serve-zipf's timed loop is bm25 search
        # only; its traced run also sweeps the other endpoints, so only
        # then does it build them. Positional runs are web-only: over
        # the Zipf dictionary (~15k terms) the per-(term, shard)
        # positional pack takes minutes.
        self.full_state = self.kind == "web" or traced
        self.n_input = SIZES[workload][1 if smoke else 0]
        self.base = os.path.join(work, "index")
        self.cores = spark.sparkContext.defaultParallelism
        self.rng = random.Random(f"{workload}-{seed}")
        self.tracer = Tracer(spark)
        self.ops: list[Op] = []
        self.failures: list[str] = []
        self.seen_keys: set = set()
        self.m: dict = {}  # per-layer scratch values
        if traced:
            self.tracer.install()
            self.tracer.on = True

    # -- operations ----------------------------------------------------------

    def op(self, req, svc, check=None) -> Op:
        """Run one request, timed from outside (wall time, and CPU time
        of the process tree); in traced runs under its own request id
        and job group."""
        tr = self.tracer
        i = len(self.ops)
        if self.traced:
            tr.req = i
            tr.job_group(f"perfbench-{i}", f"{req.method} {req.kind}")
        repeat = req.key in self.seen_keys
        self.seen_keys.add(req.key)
        resp = err = None
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            if self.traced:
                with tr.span(f"service.{req.method}"):
                    resp = req.call(svc)
            else:
                resp = req.call(svc)
        except Exception as e:  # noqa: BLE001 — a failed op is data
            err = f"{req}: {type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        ok = err is None and (check or checks.shape_ok)(req, resp)
        if not ok:
            self.failures.append(err or f"wrong answer: {req}")
        op = Op(req, wall, cpu, ok, repeat, resp, err)
        if self.traced:
            tr.req = None
            op.spans = tr.request_spans(i)
            op.spark = tr.group_counts(f"perfbench-{i}")
        self.ops.append(op)
        return op

    # -- set-up ----------------------------------------------------------------

    @contextmanager
    def phase(self, name):
        """Time one set-up phase (reported on the run's info line)."""
        t0 = time.perf_counter()
        yield
        self.phases[name] = time.perf_counter() - t0

    def setup(self):
        from pyspark.sql import functions as F

        from searchengine_spark.functions.textproc import tokenize_lemmatize
        from searchengine_spark.operators import linkgraph
        from searchengine_spark.operators.postings import prepare_docs

        sp = self.spark
        self.phases = {"spark": time.perf_counter() - self.t_process}
        inputs = os.path.join(self.work, "inputs")
        with self.phase("inputs"):
            corpora.docs_frame(sp, self.kind, self.seed, self.n_input,
                               self.cores).write.parquet(f"{inputs}/docs")
            docs = sp.read.parquet(f"{inputs}/docs")
            self.text_bytes = docs.agg(
                F.sum(F.octet_length("text"))).collect()[0][0]
        with self.phase("load"):
            self.load(docs)
        self.docs_text = None
        if self.full_state:
            with self.phase("docs_text_and_rank"):
                prepare_docs(docs, use_html=self.kind == "web").select(
                    "doc_id", "text").write.parquet(f"{inputs}/docs_text")
                self.docs_text = sp.read.parquet(f"{inputs}/docs_text")
                linkgraph.write_static_rank(
                    linkgraph.build_static_rank(docs, n_iter=3), self.base)
        # storage the engine's build left cached is not the service's
        held_before = {i.id() for i in self.storage_info()}
        with self.phase("open"):
            self.svc = self.open_service()
        self.cache_mb = sum(
            i.memSize() + i.diskSize() for i in self.storage_info()
            if i.id() not in held_before) / MiB
        self.index_bytes = dir_bytes(self.base)
        dictionary = [(r["term"], r["df"])
                      for r in self.index.term_stats.collect()]
        self.texts = corpora.sample_texts(self.kind, self.seed, self.n_input,
                                          SAMPLED_DOCS, self.rng)
        self.doc_terms = [sorted(set(tokenize_lemmatize(t)))
                          for t in self.texts]
        if self.kind == "web":
            self.bands = stream.df_bands(dictionary, self.n_docs)
            self.blocks = stream.web_blocks(self.seed, self.bands,
                                            self.texts, self.doc_terms)
        else:
            self.bands = stream.zipf_bands(dictionary, self.n_docs)
            self.blocks = stream.zipf_blocks(self.seed, self.bands,
                                             self.doc_terms)
        self.stream = itertools.chain.from_iterable(self.blocks)
        if self.traced:
            with self.phase("warm_up"):
                self.warm_up()

    def storage_info(self):
        return self.spark.sparkContext._jsc.sc().getRDDStorageInfo()

    def load(self, docs):
        """The timed bulk load: materialize, pack, positional pack."""
        from searchengine_spark.index import positional, segments
        from searchengine_spark.operators import postings
        from searchengine_spark.operators.search import corpus_constants

        before = self.tracer.last_stage_id() if self.traced else None
        t0 = time.perf_counter()
        self.index = postings.materialize_index(
            self.spark, docs, f"{self.base}/idx",
            use_html=self.kind == "web")
        t1 = time.perf_counter()
        self.n_docs, self.avgdl = corpus_constants(self.index.doc_stats)
        self.n_shards = segments.n_shards_for(
            self.n_docs, min_parallelism=self.cores)
        segments.write_segments(
            segments.build_segments(self.index, self.n_docs, self.avgdl,
                                    n_shards=self.n_shards),
            f"{self.base}/segments")
        t2 = time.perf_counter()
        if self.kind == "web":
            prepared = postings.prepare_docs(docs, use_html=True)
            positional.write_positional_segments(
                positional.build_positional_segments(
                    prepared.select("doc_id", "lemmas"), self.n_shards),
                f"{self.base}/possegs")
        t3 = time.perf_counter()
        self.load_s = t3 - t0
        self.m.update(materialize_s=t1 - t0, pack_s=t2 - t1,
                      pos_pack_s=t3 - t2)
        if self.traced:
            self.m["build_io"] = self.tracer.stage_io(before)

    def open_service(self, **kw):
        from searchengine_spark.service import SearchService

        t0 = time.perf_counter()
        svc = SearchService(self.spark, self.base, docs_text=self.docs_text,
                            **kw)
        self.m.setdefault("open_s", []).append(time.perf_counter() - t0)
        return svc

    def warm_up(self):
        """Traced runs only, which report the read timings: untimed
        blocks of requests, one of each kind per block, before the
        timed loop. The JVM compiles the read paths and the service
        builds its lazily cached state (site map, fuzzy keys, positional
        runs), so timed reads measure a warm service. serve-web's
        warm-up requests are drawn outside the timed pools, and
        ``statistics`` (a single request, which would then only ever hit
        the response cache) is left to the loop; serve-zipf's are the
        stream's first blocks (its reads keep speeding up for dozens of
        requests; two blocks are what the time budget allows).
        Warm-up answers are checked too."""
        rng = random.Random(f"warm-up-{self.seed}")
        for _ in range(1 if self.smoke else WARM_UP_BLOCKS[self.workload]):
            if self.kind == "web":
                block = [stream.web_request(k, rng, self.bands, self.texts,
                                            self.doc_terms)
                         for k in stream.WEB_KINDS if k != "statistics"]
            else:
                block = next(self.blocks)
            for req in block:
                self.op(req, self.svc)

    # -- the timed loop --------------------------------------------------------

    def read_loop(self):
        n_warm = len(self.ops)
        self.t_first_op = time.perf_counter()
        while time.perf_counter() - self.t_first_op < self.seconds:
            for req in next(self.blocks):
                self.op(req, self.svc)
        self.loop_s = time.perf_counter() - self.t_first_op
        self.reads = self.loop_reads = self.ops[n_warm:]

    def distinct_reads(self):
        """The loop's first-time requests: what the response cache
        could not answer. Repeats are rare but their number varies with
        how many blocks a run completes, so latencies are taken over
        these."""
        return [o for o in self.loop_reads if not o.repeat]

    def check_sample(self, svc, index, constants, ops, k):
        """Relational reference check of k seeded comparable responses."""
        cand = [o for o in ops if o.ok
                and o.req.kind in stream.RELATIONAL_KINDS]
        for o in self.rng.sample(cand, min(k, len(cand))):
            bad = checks.relational_mismatch(
                self.spark, index, constants, o.req, o.resp)
            if bad:
                o.ok = False
                self.failures.append(bad)

    # -- traced extras -----------------------------------------------------------

    def sweep(self):
        """One request of every endpoint the loop did not reach, so each
        is measured on both workloads (phrase only where positional runs
        exist)."""
        n_warm = len(self.ops) - len(self.reads)
        ran = {o.req.endpoint for o in self.reads}
        if self.kind == "zipf":
            ran.add("phrase")
        host = "zipf" if self.kind == "zipf" else "site"
        for kind in stream.WEB_KINDS:
            if stream.ENDPOINT[kind] not in ran:
                ran.add(stream.ENDPOINT[kind])
                self.op(stream.web_request(kind, self.rng, self.bands,
                                           self.texts, self.doc_terms, host),
                        self.svc)
        self.reads = self.ops[n_warm:]

    def explain_counters(self):
        """Pruning counters of the stream's bm25 searches, from the
        service's explain() (outside the timed loop)."""
        bm25 = [o.req for o in self.reads if o.req.kind in
                stream.RELATIONAL_KINDS and o.req.opt("mode", "bm25") == "bm25"]
        tot = {"n_postings": 0, "n_blocks": 0, "n_blocks_decoded": 0,
               "n_scored": 0}
        picked = bm25[:EXPLAINED_PER_RUN]
        for r in picked:
            ex = self.svc.explain(
                r.args[0], limit=r.opt("offset", 0) + r.opt("limit", 20),
                site=r.opt("site"), conjunctive=r.opt("conjunctive", True))
            for f in tot:
                tot[f] += ex[f]
        n = max(1, len(picked))
        self.m["wand_counters"] = {
            "blocks_decoded_pct": 100.0 * tot["n_blocks_decoded"]
            / max(1, tot["n_blocks"]),
            "postings_per_read": tot["n_postings"] / n,
            "scored_per_read": tot["n_scored"] / n,
        }

    def churn(self):
        """Writes interleaved with reads, then compaction and a fresh
        service open; every step's answer is checked."""
        from searchengine_spark.index import refresh
        from searchengine_spark.operators.postings import read_index
        from searchengine_spark.operators.search import corpus_constants

        svc, seed = self.svc, self.seed
        start, _ = corpora.window(seed, self.n_input)
        host = "zipf" if self.kind == "zipf" else "site"
        words = " ".join(self.bands["common"][:3])
        fresh = [f"pbfresh{seed}x{i}" for i in range(2)]
        new_url = f"https://{host}1.example/perfbench-{seed}"
        upd_url = f"https://{host}{(start + 3) % 8}.example/page{start + 3}"
        probe = stream.Req("churn", "search",
                           (f"{self.bands['common'][0]}",),
                           (("limit", 50),))
        victim = next(d["url"] for d in probe.call(svc)["data"]
                      if d["url"] != upd_url)

        def finds(url):
            return lambda req, resp: (
                resp["count"] == 1 and resp["data"][0]["url"] == url)

        def lacks(url):
            return lambda req, resp: checks.shape_ok(req, resp) and all(
                d["url"] != url for d in resp["data"])

        writes = []
        for method, args, check_req, check in (
            ("index_page", (new_url, None, f"{words} {fresh[0]}"),
             stream.Req("churn", "search", (fresh[0],)), finds(new_url)),
            ("index_page", (upd_url, None, f"{words} {fresh[1]}"),
             stream.Req("churn", "search", (fresh[1],)), finds(upd_url)),
            ("delete_page", (victim,), probe, lacks(victim)),
        ):
            w = self.op(stream.Req("write", method, args), svc,
                        check=lambda req, resp: resp["result"] is True)
            writes.append(w)
            self.op(check_req, svc, check=check)
        self.m["writes"] = writes
        self.m["runs_live"] = self.spark.read.parquet(
            f"{self.base}/segments").select("run_id").distinct().count()

        io_before = self.tracer.last_stage_id()
        t0 = time.perf_counter()
        with self.tracer.span("refresh.compaction"):
            refresh.refresh_and_repack(self.spark, self.base)
        repack = time.perf_counter() - t0
        svc.close()
        # uncached, so overhead_pairs() can repeat requests afterwards
        self.svc = svc = self.open_service(cache_responses=False)
        after = [self.op(stream.Req("churn", "search", (fresh[0],)), svc,
                         check=finds(new_url))]
        self.m["compact_s"] = time.perf_counter() - t0
        self.m["repack_s"] = repack
        self.m["compact_io"] = self.tracer.stage_io(io_before)
        after += [
            self.op(stream.Req("churn", "search", (fresh[1],)), svc,
                    check=finds(upd_url)),
            self.op(probe, svc, check=lacks(victim)),
        ]
        index = read_index(self.spark, f"{self.base}/idx")
        self.check_sample(svc, index, corpus_constants(index.doc_stats),
                          after, len(after))

    def overhead_pairs(self):
        """Untraced vs traced latency of the same requests on an
        uncached service, in ABBA order."""
        ratios = []
        for i in range(OVERHEAD_PAIRS):
            if i >= 2 and (time.perf_counter() - self.t_process
                           > TRACED_PAIRS_UNTIL_S):
                break  # keep a slow host's traced run inside its limit
            req = next(self.stream)
            walls = {}
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                self.tracer.on = traced
                t0 = time.perf_counter()
                req.call(self.svc)
                walls[traced] = time.perf_counter() - t0
            ratios.append(walls[True] / walls[False])
        self.tracer.on = True
        self.m["overhead_pct"] = 100.0 * (median(ratios) - 1.0)

    # -- run -----------------------------------------------------------------------

    def run(self):
        self.setup()
        setup_s = time.perf_counter() - self.t_process
        self.read_loop()
        self.check_sample(self.svc, self.index,
                          (self.n_docs, self.avgdl), self.reads,
                          CHECKED_PER_RUN)
        if self.traced:
            self.sweep()
            self.explain_counters()
            self.churn()
            self.overhead_pairs()
            self.tracer.dump(os.path.join(
                os.path.dirname(self.work),
                f"spans-{self.workload}-s{self.seed}.jsonl"))
        self.svc.close()
        failed = sum(not o.ok for o in self.ops)
        metrics = (self.layer_metrics() if self.traced
                   else self.end_to_end(setup_s))
        return metrics, len(self.ops), failed

    def end_to_end(self, setup_s):
        ok = sum(o.ok for o in self.ops)
        return {
            "setup_s": (setup_s, "s"),
            "cache_mb": (self.cache_mb, "MiB"),
            "index_bytes_per_text_byte": (
                self.index_bytes / self.text_bytes, "ratio"),
            "ok_ops_pct": (100.0 * ok / len(self.ops), "%"),
        }

    def layer_metrics(self):
        reads, m = self.reads, self.m
        walls = [o.wall for o in reads]
        total = sum(walls) or 1.0
        distinct = [o.wall for o in self.distinct_reads()]

        def per_read(layer):
            return [layer_seconds(o.spans, layer) for o in reads]

        def call_p50(layer):
            return median([s for s in per_read(layer) if s > 0])

        def self_time(o):
            return o.wall - union_seconds(
                [(s[1], s[2]) for s in o.spans
                 if not s[0].startswith("service.")])

        wand = per_read("wand")
        out = {
            "analysis.p50_ms": (1000 * call_p50("analysis"), "ms"),
            "wand.call_p50_s": (call_p50("wand"), "s"),
            "wand.call_share": (100 * sum(wand) / total, "%"),
            "positional.call_p50_s": (call_p50("positional"), "s"),
            "boolquery.call_p50_s": (call_p50("boolquery"), "s"),
            "fuzzy.call_p50_s": (call_p50("fuzzy"), "s"),
            "service.self_p50_s": (median([self_time(o) for o in reads]), "s"),
            "service.self_share": (
                100 * sum(self_time(o) for o in reads) / total, "%"),
            "service.cache_hit_ratio": (100 * sum(
                o.repeat and o.spark["jobs"] == 0 for o in reads)
                / max(1, len(reads)), "%"),
            "spark.jobs_per_read": (
                statistics.fmean(o.spark["jobs"] for o in reads), "count"),
            "spark.stages_per_read": (
                statistics.fmean(o.spark["stages"] for o in reads), "count"),
            "spark.tasks_per_read": (
                statistics.fmean(o.spark["tasks"] for o in reads), "count"),
            "read.iqm_s": (iqm(distinct), "s"),
            "read.p50_s": (median(distinct), "s"),
            "read.cpu_s": (iqm([o.cpu for o in self.distinct_reads()]), "s"),
            "read.p90_s": (statistics.quantiles(distinct, n=10)[-1]
                           if len(distinct) > 1 else distinct[0], "s"),
            "read.qps": (sum(o.err is None for o in self.loop_reads)
                         / self.loop_s, "1/s"),
            "read.n": (len(distinct), "count"),
            "build.docs_per_s": (self.n_input / self.load_s, "docs/s"),
        }
        for name, value in m["wand_counters"].items():
            unit = "%" if name.endswith("pct") else "count"
            out[f"wand.{name}"] = (value, unit)
        for e in ("search", "snippets", "phrase", "boolean", "facets",
                  "collapse", "bm25f", "blend", "suggest", "complete",
                  "statistics"):
            xs = [o.wall for o in reads if o.req.endpoint == e]
            out[f"endpoint.{e}.p50_s"] = (median(xs), "s")
            out[f"endpoint.{e}.n"] = (len(xs), "count")
        writes = m["writes"]
        out.update({
            "churn.write_p50_s": (median([w.wall for w in writes]), "s"),
            "churn.compact_s": (m["compact_s"], "s"),
            "segments.delta_p50_s": (median(
                [layer_seconds(w.spans, "segments") for w in writes]), "s"),
            "positional.delta_p50_s": (median(
                [layer_seconds(w.spans, "positional") for w in writes]), "s"),
            "service.reopen_p50_s": (median(
                [w.wall - union_seconds([(s[1], s[2]) for s in w.spans
                                         if s[0].split(".")[0] in
                                         ("segments", "positional")])
                 for w in writes]), "s"),
            "spark.jobs_per_write": (statistics.fmean(
                w.spark["jobs"] for w in writes), "count"),
            "spark.stages_per_write": (statistics.fmean(
                w.spark["stages"] for w in writes), "count"),
            "segments.runs_live": (m["runs_live"], "count"),
            "refresh.repack_s": (m["repack_s"], "s"),
            "service.open_s": (median(m["open_s"]), "s"),
            "spark.compact_shuffle_mb": (
                m["compact_io"]["shuffle_bytes"] / MiB, "MiB"),
            "postings.materialize_s": (m["materialize_s"], "s"),
            "segments.pack_s": (m["pack_s"], "s"),
            "positional.pack_s": (m["pos_pack_s"], "s"),
            "spark.build_shuffle_mb": (
                m["build_io"]["shuffle_bytes"] / MiB, "MiB"),
            "spark.build_spill_mb": (
                m["build_io"]["spill_bytes"] / MiB, "MiB"),
            "spark.tasks_failed": (
                m["build_io"]["failed_tasks"]
                + m["compact_io"]["failed_tasks"]
                + sum(o.spark["failed"] for o in self.ops), "count"),
            "trace.overhead_pct": (m["overhead_pct"], "%"),
        })
        return out
