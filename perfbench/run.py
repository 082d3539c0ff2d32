"""Search-engine benchmark: one seeded, closed-loop workload per run.

    python3 perfbench/run.py --workload search_distinct --seed 1 --seconds 8 --trace 0

Run from the repository root. Set-up starts a ``local[nproc]`` session,
generates a Wikipedia-style XML dump from the seed, ingests it and
publishes the index exactly as the CLI ``index`` command does, then warms
up until request latency settles. The timed phase is one client sending
``SearchSession.page`` requests back to back. Afterwards every output is
checked; the last stdout line is one JSON object with the metrics.

``--trace 1`` runs the same workload with spans around the engine's
public functions and prints the per-layer metrics instead (see
``perfbench/README.md``).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()

WORKLOADS = ("search_distinct", "search_cached")
PAGES = 2000  # generated wiki pages, ~3 MB of text
# a cold-cache round of the cached workload: 12 requests over one query
# of each of these shapes, so 4 misses and 8 hits
CACHED_ROUND = 12
CACHED_SHAPES = (0, 2, 3, 5)
# A warm-up batch is six requests: one of each query shape, or half a
# cached round (2 misses, 4 hits), so batch medians compare like with
# like. The cap keeps a run near a minute: 4 batches, or 2 rounds.
WARMUP_BATCH, WARMUP_REQUESTS, SETTLED = 6, 24, 0.15
CHECK_SCORES = 3  # requests per run whose scores are checked too
PROBE_PER_THREAD = 4  # concurrent-cache probe: requests per client thread
JVM_HEAP = "2g"  # the 16g default does not fit a 15 GB host


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def setup_env(work: str, cpus: int) -> None:
    """Environment the Spark JVM and its Python workers inherit."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    sys.path[:0] = [ROOT, HERE]


def tree_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums or markers)."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(d, f))
            for f in files
            if not f.startswith((".", "_"))
        )
    return total


def peak_rss_mb() -> float:
    """Sum of the peak resident sets of this process and every
    descendant: the JVM and the Python workers."""
    parent = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        kids = [p for p, pp in parent.items() if pp in frontier and p not in tree]
        tree.update(kids)
        frontier = kids
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return kb / 1024.0


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


class Bench:
    def __init__(self, args, work: str, cpus: int) -> None:
        import inputs

        self.args = args
        self.work = work
        self.cpus = cpus
        self.layer: dict[str, float] = {}  # per-layer metrics
        self.failed = 0
        self.tracer = None
        # a traced run traces alternate cycles of this many requests: a
        # cycle of query shapes, or a cached round
        self.cycle = inputs.SHAPES if args.workload == "search_distinct" else CACHED_ROUND

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what}", file=sys.stderr)

    # ---------- set-up --------------------------------------------------

    def start(self) -> None:
        from hadoop_search_spark.session import get_spark

        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus)
        self.layer["session.start_s"] = time.perf_counter() - t
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = self.spark.sparkContext._gateway.proc
        if self.args.trace:
            import tracing

            self.tracer = tracing.Tracer(
                tracing.Py4jCounter(self.spark.sparkContext._gateway._gateway_client)
            )
            df_cls = type(self.spark.range(1))
            tracing.instrument_search(self.tracer, df_cls)
            self.stem_s, self.stem_n = tracing.instrument_stemmer(self.spark)

    def generate(self) -> None:
        import inputs

        self.corpus = inputs.make_corpus(self.args.seed, PAGES)
        self.dump = os.path.join(self.work, "dump.xml")
        with open(self.dump, "wb") as f:
            f.write(self.corpus.xml)

    def publish(self) -> None:
        """The CLI ``index`` sequence, in process: XML -> corpus parquet
        -> postings, stop words, corpus stats, vocab."""
        from hadoop_search_spark.operators.index import (
            NUM_STOP_WORDS,
            build_index_tables,
            vocab_stats,
            write_index,
        )
        from hadoop_search_spark.sources.xml_corpus import (
            corpus_split,
            read_wiki_xml,
            write_corpus,
        )

        spark = self.spark
        self.corpus_dir = os.path.join(self.work, "corpus")
        self.index_dir = os.path.join(self.work, "index")
        out = self.index_dir
        t = time.perf_counter()
        pages = read_wiki_xml(spark, self.dump)
        write_corpus(
            corpus_split(pages).withColumnRenamed("content", "text"), self.corpus_dir
        )
        t1 = time.perf_counter()
        docs = spark.read.parquet(self.corpus_dir)
        tabs = build_index_tables(spark, docs, num_stop_words=NUM_STOP_WORDS)
        write_index(tabs["postings"], f"{out}/postings")
        tabs["stopwords"].coalesce(1).write.mode("overwrite").parquet(f"{out}/stopwords")
        tabs["corpus_stats"].coalesce(1).write.mode("overwrite").parquet(f"{out}/corpus_stats")
        t2 = time.perf_counter()
        vocab_stats(spark.read.parquet(f"{out}/postings")).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{out}/vocab")
        t3 = time.perf_counter()
        self.layer["sources.ingest_s"] = t1 - t
        self.layer["index.build_s"] = t2 - t1
        self.layer["index.vocab_s"] = t3 - t2
        self.layer["index.bytes"] = tree_bytes(out)

    def open_engine(self) -> None:
        from hadoop_search_spark.plans.planner import SearchEngine

        spark, out = self.spark, self.index_dir
        self.docs = spark.read.parquet(self.corpus_dir)
        self.postings = spark.read.parquet(f"{out}/postings")
        self.stopwords = [r.word for r in spark.read.parquet(f"{out}/stopwords").collect()]
        self.engine = SearchEngine(
            spark,
            self.postings,
            documents=self.docs,
            stopwords=self.stopwords,
            vocab=spark.read.parquet(f"{out}/vocab"),
        )

    def session(self, cache_name: str | None):
        from hadoop_search_spark.plans.cache import QueryCache
        from hadoop_search_spark.plans.session_api import SearchSession

        cache = None
        if cache_name is not None:
            cache = QueryCache(self.spark, os.path.join(self.work, "cache", cache_name))
        return SearchSession(self.engine, self.docs, cache=cache)

    def warm_up(self, batches) -> None:
        """Run batches of requests until the median request time of a
        batch is within ``SETTLED`` of the previous batch's, or until the
        batches run out. Records the requests sent, the last
        batch-to-batch change and whether it settled."""
        sent, prev = 0, None
        for sess, batch in batches:
            times = []
            for q, page in batch:
                t = time.perf_counter()
                sess.page(q, page)
                times.append(time.perf_counter() - t)
            sent += len(batch)
            med = statistics.median(times)
            if prev is not None:
                change = abs(med / prev - 1)
                if change <= SETTLED:
                    break
            prev = med
        self.layer["warmup.requests"] = sent
        self.layer["warmup.last_change"] = change
        self.warmup_settled = change <= SETTLED

    # ---------- timed phase ---------------------------------------------

    def traced(self, i: int) -> bool:
        """A traced run traces alternate cycles of requests."""
        return self.tracer is not None and (i // self.cycle) % 2 == 0

    def request(self, sess, i: int, q: str, page: int, traced: bool) -> dict:
        rec = {"i": i, "q": q, "page": page, "cache": sess.cache and sess.cache.path}
        if self.tracer is not None:
            ranks = self.tracer.rank_calls
        if traced:
            self.tracer.on, self.tracer.req = True, i
            self.spark.sparkContext.setJobGroup(f"perfbench-{i}", q)
        t = time.perf_counter()
        try:
            rec["total"], rows = sess.page(q, page)
            rec["ids"] = [r["doc_id"] for r in rows]
        except Exception:  # a failed request counts; the loop goes on
            self.fail(f"request {q!r} page {page} raised:\n{traceback.format_exc()}")
        rec["s"] = time.perf_counter() - t
        if self.tracer is not None:
            rec["hit"] = self.tracer.rank_calls == ranks
        if traced:
            import tracing

            self.tracer.on = False
            rec["traced"] = True
            rec["jobs"] = tracing.job_counts(self.spark, f"perfbench-{i}")
            self.spark.sparkContext.setJobGroup("perfbench-idle", "between requests")
        return rec

    @staticmethod
    def done(start: float, seconds: float, k: int, pair: int) -> bool:
        """Whether the timed phase ends before step ``k`` (a request, or a
        round): once ``seconds`` have passed, at the end of a whole pair
        of cycles. Every run then asks each query shape equally often,
        and in a traced run every traced cycle has an untraced twin for
        ``trace.overhead_ratio``."""
        return time.perf_counter() - start >= seconds and k % pair == 0

    def run_distinct(self, stream, seconds: float) -> list[dict]:
        """Requests until ``seconds`` have passed, in whole pairs of
        cycles."""
        sess = self.session(None)
        recs, start = [], time.perf_counter()
        for i, (q, page) in enumerate(stream):
            if self.done(start, seconds, i, 2 * self.cycle):
                break
            recs.append(self.request(sess, i, q, page, self.traced(i)))
        self.elapsed = time.perf_counter() - start
        return recs

    def run_cached(self, rounds, seconds: float) -> list[dict]:
        """Whole rounds of ``CACHED_ROUND`` requests, each against a cache
        that starts empty, until ``seconds`` have passed, in whole pairs
        of rounds."""
        recs, start = [], time.perf_counter()
        for r, stream in enumerate(rounds):
            if self.done(start, seconds, r, 2):
                break
            sess = self.session(f"timed-{r}")
            for q, page in stream:
                i = len(recs)
                recs.append(self.request(sess, i, q, page, self.traced(i)))
        self.elapsed = time.perf_counter() - start
        return recs

    # ---------- checks --------------------------------------------------

    def check_index(self) -> None:
        """Published rows and sum(tf) against a pure-Python count of the
        generated non-stop-word tokens; published stop words and page
        count against the generator."""
        from pyspark.sql import functions as F

        from hadoop_search_spark.functions.porter import porter_stem

        want_stop = self.corpus.stop_words()
        if sorted(self.stopwords) != sorted(want_stop):
            self.fail("published stop words differ from the independent count")
        rows, tf = self.postings.agg(F.count("*"), F.sum("tf")).first()
        want_rows, want_tf = self.corpus.expected_index(want_stop, porter_stem)
        if (rows, tf) != (want_rows, want_tf):
            self.fail(f"index rows/sum(tf) {rows}/{tf}, expected {want_rows}/{want_tf}")
        pages = self.docs.count()
        if pages != len(self.corpus.doc_tokens):
            self.fail(f"corpus has {pages} pages, generated {len(self.corpus.doc_tokens)}")
        self.layer["sources.pages"] = pages
        self.layer["index.postings_rows"] = rows

    def check_requests(self, recs: list[dict]) -> None:
        """Every request's total and page ids against the brute-force
        evaluator over the published postings; on a seeded sample, the
        engine's ranked scores too. A cache hit is checked the same way,
        so it must equal the result it replays."""
        import random

        from pyspark.sql import functions as F

        import inputs
        from hadoop_search_spark.plans import parser as P
        from tests import brute_force as bf

        ok = [r for r in recs if "ids" in r]
        queries = sorted({r["q"] for r in ok})
        terms = set()
        for q in queries:
            terms |= P.query_terms(P.parse_query(q))
        postings: dict[str, dict] = {t: {} for t in terms}
        for row in (
            self.postings.filter(F.col("term").isin(sorted(terms)))
            .select("term", "doc_id", "score", "positions")
            .collect()
        ):
            postings[row.term][row.doc_id] = (row.score, list(row.positions))
        universe = set(self.corpus.doc_tokens)
        expected = {}
        for q in queries:
            scores = bf.search(q, postings, universe, self.stopwords)
            ranked = sorted(scores, key=lambda d: (-scores[d], d))
            expected[q] = (scores, ranked)

        def key(scores, d):
            return round(scores.get(d, math.nan), 9)

        for r in ok:
            scores, ranked = expected[r["q"]]
            want = inputs.clean_page_ids(ranked, r["page"])
            # equal-score docs may come in either order: compare the
            # rounded scores along each page, and membership
            same = [key(scores, d) for d in r["ids"]] == [key(scores, d) for d in want]
            if r["total"] != len(ranked) or not same or not set(r["ids"]) <= set(scores):
                self.fail(
                    f"request {r['q']!r} page {r['page']}: got {r['total']} {r['ids']}, "
                    f"brute force {len(ranked)} {want}"
                )
        rng = random.Random(self.args.seed)
        for r in rng.sample(ok, min(CHECK_SCORES, len(ok))):
            scores, ranked = expected[r["q"]]
            n = max(r["page"], 1) * 10
            got = [
                (row.doc_id, round(row.score, 9))
                for row in self.engine.search(r["q"]).limit(n).collect()
            ]
            want = [(d, round(scores[d], 9)) for d in ranked[:n]]
            by_score = lambda x: (-x[1], x[0])  # noqa: E731
            if sorted(got, key=by_score) != sorted(want, key=by_score):
                self.fail(f"engine scores for {r['q']!r} differ from brute force")

    # ---------- per-layer reduction (traced runs) -------------------------

    def reduce_trace(self, recs: list[dict]) -> None:
        """Per-layer means over the traced requests. Request layers come
        from the timed phase; the cache layer from the requests that had
        a cache (on ``search_distinct``, the side pass)."""
        import tracing

        spans = self.tracer.spans
        own = tracing.self_times(spans)
        by_req: dict[int, list[dict]] = {}
        for sp in spans:
            by_req.setdefault(sp["req"], []).append(sp)
        traced = [r for r in recs if r.get("traced") and r["i"] in by_req]
        split = {}  # request id -> its layer sums
        worst_gap = 0.0
        for r in traced:
            sums = dict.fromkeys(tracing.REQUEST_LAYERS, 0.0)
            sums.update(page=0.0, catalyst=0.0, py4j=0, collected=0, shown=0)
            for sp in by_req[r["i"]]:
                if sp["name"] in tracing.REQUEST_LAYERS:
                    sums[sp["name"]] += own[sp["id"]]
                if sp["name"] == tracing.PAGE:
                    sums["page"] = sp["end"] - sp["start"]
                if sp["name"] == "results.rank":
                    sums["catalyst"] += sp.get("catalyst_s", 0.0)
                    sums["collected"] += sp.get("ids", 0)
                    sums["shown"] += len(r.get("ids", ()))
                if sp["name"] == "planner.plan":
                    sums["py4j"] += sp["py4j"]
            covered = sum(sums[k] for k in tracing.REQUEST_LAYERS)
            worst_gap = max(worst_gap, abs(covered / sums["page"] - 1))
            split[r["i"]] = sums
        timed = [split[r["i"]] for r in traced if not r.get("side")]
        cached = [split[r["i"]] for r in traced if r["cache"]]
        if not timed or not cached:
            raise RuntimeError("the traced run has no traced requests to split")

        def mean(rows, key):
            return sum(row[key] for row in rows) / len(rows)

        collected = sum(row["collected"] for row in timed)
        if not collected:
            raise RuntimeError("no traced request collected ranked ids")
        layer = self.layer
        layer["session_api.page_s"] = mean(timed, "page")
        layer["parser.parse_s"] = mean(timed, "parser.parse")
        layer["planner.plan_s"] = mean(timed, "planner.plan")
        layer["planner.py4j_calls"] = mean(timed, "py4j")
        layer["results.rank_plan_s"] = mean(timed, "catalyst")
        layer["results.rank_exec_s"] = mean(timed, "results.rank") - mean(timed, "catalyst")
        layer["results.fetch_s"] = mean(timed, "results.fetch")
        layer["results.snippet_s"] = mean(timed, "results.snippet")
        layer["results.ids_used_ratio"] = sum(row["shown"] for row in timed) / collected
        layer["cache.get_s"] = mean(cached, "cache.get")
        layer["cache.put_s"] = mean(cached, "cache.put")
        layer["trace.split_gap"] = worst_gap
        jobs = [r["jobs"] for r in traced if not r.get("side")]
        layer["spark.jobs_per_op"] = sum(j[0] for j in jobs) / len(jobs)
        layer["spark.stages_per_op"] = sum(j[1] for j in jobs) / len(jobs)
        layer["spark.tasks_per_op"] = sum(j[2] for j in jobs) / len(jobs)
        with_cache = [r for r in recs if r["cache"]]
        layer["cache.hit_ratio"] = sum(r["hit"] for r in with_cache) / len(with_cache)
        # each traced request against the untraced one at the same place
        # in the next cycle: same query shape, same cache state
        secs = {divmod(r["i"], self.cycle): r["s"] for r in recs if "ids" in r and not r.get("side")}
        pairs = [(s, secs[c + 1, k]) for (c, k), s in secs.items() if c % 2 == 0 and (c + 1, k) in secs]
        if not pairs:
            raise RuntimeError("no traced request has an untraced twin")
        layer["trace.overhead_ratio"] = (
            statistics.median(p[0] for p in pairs) / statistics.median(p[1] for p in pairs)
        )
        # files and bytes one cache holds after its requests
        dirs = {r["cache"] for r in with_cache}
        files = [
            os.path.join(d, f)
            for top in dirs
            for d, _, fs in os.walk(top)
            for f in fs
            if f.endswith(".parquet")
        ]
        layer["cache.files"] = len(files) / len(dirs)
        layer["cache.bytes"] = sum(os.path.getsize(f) for f in files) / len(dirs)

    def layer_extras(self) -> None:
        """Traced-run measurements outside the request loop: the
        tokenizer alone over the corpus, and the stemmer's counters."""
        from pyspark.sql import functions as F

        from hadoop_search_spark.functions.tokenize import tokenize_with_positions

        t = time.perf_counter()
        tokenize_with_positions(self.docs, drop_numeric=True, require_alnum=True).agg(
            F.count("*")
        ).collect()
        self.layer["functions.tokenize_s"] = time.perf_counter() - t
        self.layer["functions.stem_s"] = self.stem_s.value
        self.layer["functions.tokens"] = self.stem_n.value

    def side_cache_pass(self, stream, first_id: int) -> list[dict]:
        """``search_distinct`` times no cache. Its traced run sends one
        more cycle of new queries through a fresh QueryCache, every one a
        first arrival, so the cache layer is measured on this workload's
        requests too."""
        sess = self.session("side")
        recs = [self.request(sess, first_id + k, q, p, True) for k, (q, p) in enumerate(stream)]
        for r in recs:
            r["side"] = True
        return recs

    def probe_concurrent_cache(self, parts) -> None:
        """Two client threads share one QueryCache, each sending its own
        part of the requests; count requests whose cache write raised.
        Reported, not gated: concurrent appends race on the parquet
        committer's ``_temporary`` directory."""
        sess = self.session("concurrent")
        failures = [0]
        lock = threading.Lock()

        def client(part):
            for q, page in part:
                try:
                    sess.page(q, page)
                except Exception as e:  # noqa: BLE001 - counted below
                    frames = traceback.extract_tb(e.__traceback__)
                    in_put = any(f.name == "put" and f.filename.endswith("cache.py") for f in frames)
                    with lock:
                        failures[0] += 1
                    if not in_put:
                        self.fail(f"concurrent request {q!r} raised outside the cache write: {e!r}")

        threads = [threading.Thread(target=client, args=(part,)) for part in parts]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=150)
            if th.is_alive():
                self.fail("concurrent-cache probe thread did not finish")
        self.layer["cache.put_failures"] = failures[0]

    # ---------- shutdown ------------------------------------------------

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python
        workers) to exit."""
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        from pyspark import SparkContext

        proc = self.jvm
        gw = SparkContext._gateway
        spark.stop()
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hadoop_search_spark")):
        print("perfbench: run from the repository root (no hadoop_search_spark/ here)",
              file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    setup_env(work, cpus)
    import inputs

    bench = Bench(args, work, cpus)
    try:
        bench.start()
        bench.generate()
        bench.publish()
        bench.open_engine()
        vocab = bench.corpus.vocab
        n = PROBE_PER_THREAD
        if args.workload == "search_distinct":
            # the timed phase takes the stream's head; the traced run's
            # side pass and probe take its tail
            stream = inputs.distinct_stream(args.seed, vocab, 2000)
            w = WARMUP_REQUESTS
            bench.warm_up(
                (bench.session(None), stream[k : k + WARMUP_BATCH])
                for k in range(0, w, WARMUP_BATCH)
            )
            setup_s = time.perf_counter() - T0
            recs = bench.run_distinct(stream[w : -bench.cycle - 2 * n], args.seconds)
            side = stream[-bench.cycle - 2 * n : -2 * n]
            probe = [stream[-2 * n : -n], stream[-n:]]
        else:
            # rounds of the timed phase's shapes, each on a cache of its
            # own, in half-round batches
            warm = [
                (bench.session(f"warm-{b}"),
                 inputs.cached_stream(args.seed, vocab, CACHED_ROUND, CACHED_SHAPES, salt=1000 + b))
                for b in range(WARMUP_REQUESTS // CACHED_ROUND)
            ]
            bench.warm_up(
                (sess, stream[k : k + WARMUP_BATCH])
                for sess, stream in warm
                for k in range(0, CACHED_ROUND, WARMUP_BATCH)
            )
            setup_s = time.perf_counter() - T0
            rounds = (
                inputs.cached_stream(args.seed, vocab, CACHED_ROUND, CACHED_SHAPES, salt=r)
                for r in range(10_000)
            )
            recs = bench.run_cached(rounds, args.seconds)
            side = []
            # each thread has first arrivals of its own, so both put
            probe = [
                inputs.cached_stream(args.seed, vocab, n, CACHED_SHAPES[k::2], salt=5000 + k)
                for k in (0, 1)
            ]
        rss = peak_rss_mb()
        if args.trace:
            checked = recs + bench.side_cache_pass(side, len(recs))
        else:
            checked = recs
        bench.check_index()
        bench.check_requests(checked)
        if args.trace:
            bench.reduce_trace(checked)
            bench.layer_extras()
            bench.probe_concurrent_cache(probe)
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)

    lat = [r["s"] for r in recs if "ids" in r]
    attempted = len(recs)
    e2e = {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (attempted / bench.elapsed, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p90_s": (percentile(lat, 0.9), "s"),
        "ok_ratio": (1 - min(bench.failed, attempted) / attempted, "ratio"),
        "peak_rss_mb": (rss, "MB"),
        "index_bytes_per_input_byte": (bench.layer["index.bytes"] / bench.corpus.text_bytes, "ratio"),
    }
    units = {
        "session.start_s": "s", "sources.ingest_s": "s", "sources.pages": "count",
        "functions.tokenize_s": "s", "functions.stem_s": "s", "functions.tokens": "count",
        "index.build_s": "s", "index.vocab_s": "s", "index.postings_rows": "count",
        "index.bytes": "bytes", "parser.parse_s": "s", "planner.plan_s": "s",
        "planner.py4j_calls": "count", "results.rank_plan_s": "s", "results.rank_exec_s": "s",
        "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
        "spark.tasks_per_op": "count", "results.fetch_s": "s", "results.snippet_s": "s",
        "results.ids_used_ratio": "ratio", "cache.get_s": "s", "cache.put_s": "s",
        "cache.hit_ratio": "ratio", "cache.files": "count", "cache.bytes": "bytes",
        "cache.put_failures": "count", "session_api.page_s": "s",
        "trace.overhead_ratio": "ratio", "trace.split_gap": "ratio",
        "warmup.requests": "count", "warmup.last_change": "ratio",
    }
    if args.trace:
        metrics = {k: {"value": bench.layer[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}

    runs = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, "runs.jsonl"), "a") as f:
        f.write(json.dumps({
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "attempted": attempted, "failed": bench.failed,
            "warmup_settled": bench.warmup_settled,
            "e2e": {k: v for k, (v, _) in e2e.items()}, "layer": bench.layer,
            "latencies": lat,
        }) + "\n")
    if bench.tracer is not None:
        with open(os.path.join(runs, f"trace-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(bench.tracer.spans, f)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": attempted,
        "failed": min(bench.failed, attempted),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
