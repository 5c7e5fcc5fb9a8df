"""The benchmark's workloads.

Each workload stages its inputs from the seed, warms up, runs closed-loop
passes (each operation starts when the previous one has finished, one
driver thread), and checks every output outside the timed region.

A pass is a fixed list of operations; `cpu_s` and the wall time are built
from per-operation medians over all passes of a run (see run.py).
"""

from __future__ import annotations

import os
import time

import checks
import gen
import tracing as T

# Three headline queries, one each for scan/aggregate, star join and the
# text pipeline. Each distinct plan adds its cold compile cost to set-up,
# which is why the list is short.
QUERIES = ("rel_q1_pricing_summary", "rel_q5_region_revenue", "text_word_topk")
# The watermarked session-window job, replayed from time-ordered event
# files, and the registered query whose oracle gives its batch form.
REPLAY_JOB = "session_windows"
REPLAY_ORACLE = "stream_session_windows"
TABLE_SCALE = 0.01  # 60k lineitem rows; the fixed per-query cost dominates
STREAM_EVENTS = 24_000
STREAM_FILES = 3  # one micro-batch per file

PUBMED_YEARS = (2019, 2020)  # 24 months
PUBMED_ARTICLES_PER_PAGE = 25
PUBMED_RETRY_PAGES = 3
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


class Op:
    """One timed operation. `fn()` runs it and may return a callable that
    the runner calls after the timed region (bookkeeping and checks that
    must not count in the operation's time)."""

    def __init__(self, name: str, fn):
        self.name, self.fn = name, fn


class Context:
    def __init__(self, spark, work: str, seed: int, layers: T.Layers):
        self.spark, self.work, self.seed, self.layers = spark, work, seed, layers
        self.cpu = None  # the run's CpuMeter, once the session is up


# --- query_mix: headline queries plus a streaming replay -------------------


class QueryMix:
    name = "query_mix"
    # The first pass compiles every plan; the next ones still run faster
    # each time while the JIT compiles the planner and the streaming loop.
    warm_passes = 2

    def stage(self, ctx: Context, dst: str) -> str:
        gen.fixture_tables(os.path.join(dst, "tables"), ctx.seed, TABLE_SCALE)
        paths = gen.event_chunks(os.path.join(dst, "stream"), ctx.seed,
                                 STREAM_EVENTS, STREAM_FILES)
        files = [os.path.join(dst, "tables", f"{t}.parquet") for t in TABLES]
        return gen.file_digest(files + paths)

    def setup(self, ctx: Context, inputs: str) -> None:
        from mrc_spark_jobs_pubmed_spark import plans
        from mrc_spark_jobs_pubmed_spark.sources.catalog import events_read_plan
        from mrc_spark_jobs_pubmed_spark.streaming import jobs as J

        self.J = J
        self.sf_dir = os.path.join(inputs, "tables")
        self.stream_dir = os.path.join(inputs, "stream")
        self.registry = plans.all_queries()
        self.oracles = plans.all_oracles()
        self.events_schema, needs_ns = events_read_plan(self.sf_dir)
        assert not needs_ns, "generated events carry microsecond timestamps"
        self.last_replay: tuple[str, dict] | None = None

    def ops(self, ctx: Context, pass_dir: str) -> list[Op]:
        out = [Op(q, lambda q=q: self._query(ctx, q)) for q in QUERIES]
        out.append(Op(f"replay_{REPLAY_JOB}", lambda: self._replay(ctx, pass_dir)))
        return out

    def check(self, ctx: Context) -> dict[str, str | None]:
        """Each query against its DuckDB oracle; the last replay's sink
        against the oracle of the job's batch form."""
        out = {}
        con = checks.duck_views(self.sf_dir, TABLES)
        for q in QUERIES:
            got = self.registry[q].fn(ctx.spark, self.sf_dir).toPandas()
            out[q] = checks.compare_frames(got, con.execute(self.oracles[q]).df())
        sink, last = self.last_replay
        con = checks.duck_views(self.stream_dir, ())
        con.execute(f"CREATE VIEW events AS SELECT * FROM "
                    f"read_parquet('{self.stream_dir}/*.parquet')")
        want = con.execute(self.oracles[REPLAY_ORACLE]).df()
        out[f"replay_{REPLAY_JOB}"] = checks.compare_stream(
            checks.read_parquet_dir(sink), want, "session_end", last)
        return out

    def _query(self, ctx: Context, q: str):
        L = ctx.layers
        with L.phase("build", f"q.{q}.build"):
            df = self.registry[q].fn(ctx.spark, self.sf_dir)
        with L.phase("exec", f"q.{q}.exec"):
            df.write.format("noop").mode("overwrite").save()
        return lambda: L.catalyst(df)

    def _replay(self, ctx: Context, pass_dir: str):
        L = ctx.layers
        base = os.path.join(pass_dir, REPLAY_JOB)
        name = f"q.replay_{REPLAY_JOB}"
        with L.phase("build", f"{name}.build"):
            src = (ctx.spark.readStream.schema(self.events_schema)
                   .option("maxFilesPerTrigger", "1").parquet(self.stream_dir))
            sdf = getattr(self.J, REPLAY_JOB)(src)
        with L.phase("exec", f"{name}.exec"):
            query = self.J.run_to_files(sdf, base + "/out", base + "/ckpt")
            query.awaitTermination()

        def post():
            # A pass that found a leftover checkpoint would process no
            # batches: that is a failure, not a fast run.
            progress = [checks.progress_dict(p) for p in query.recentProgress]
            L.stream_progress(progress)
            batches = [p for p in progress if p.get("numInputRows", 0) > 0]
            if len(batches) != STREAM_FILES:
                raise RuntimeError(f"{len(batches)} data batches, expected {STREAM_FILES}")
            self.last_replay = (base + "/out", progress[-1])

        return post

    def pass_extras(self, ctx: Context, pass_dir: str) -> dict:
        return {}


# --- pubmed_etl: the paper's pipeline, fresh run then resume --------------


def make_fetcher(pages: dict, retry_urls: frozenset, marker: str, calls, retries, secs):
    """The pipeline's `fetcher` seam over pre-generated pages. Retry pages
    answer with a rate-limit marker on every odd call within a task, so
    each fetch of them takes exactly two attempts. Defined as a closure
    over plain data so Python workers never import benchmark code."""
    seen: dict[str, int] = {}

    def fetcher(url: str) -> str:
        t0 = time.perf_counter()
        calls.add(1)
        body = pages[url]
        if url in retry_urls:
            seen[url] = seen.get(url, 0) + 1
            if seen[url] % 2 == 1:
                retries.add(1)
                body = marker
        secs.add(time.perf_counter() - t0)
        return body

    return fetcher


class PubmedEtl:
    name = "pubmed_etl"
    # After one warm-up pass, the next pass still took about a quarter
    # more CPU time than the ones after it.
    warm_passes = 2

    def stage(self, ctx: Context, dst: str) -> str:
        self.corpus = gen.PubmedCorpus(ctx.seed, *PUBMED_YEARS,
                                       PUBMED_ARTICLES_PER_PAGE, PUBMED_RETRY_PAGES)
        return self.corpus.digest()

    def setup(self, ctx: Context, inputs: str) -> None:
        from mrc_spark_jobs_pubmed_spark.pipeline import ingest, run

        sc = ctx.spark.sparkContext
        self.run = run
        self.calls = sc.accumulator(0)
        self.retries = sc.accumulator(0)
        self.fetch_s = sc.accumulator(0.0)
        assert gen.RETRY_BODY in ingest.RETRY_MARKERS
        self.fetcher = make_fetcher(self.corpus.pages, self.corpus.retry_urls,
                                    gen.RETRY_BODY, self.calls, self.retries, self.fetch_s)
        self.out_dirs: list[str] = []
        self._acc_seen = (0, 0, 0.0)

    def ops(self, ctx: Context, pass_dir: str) -> list[Op]:
        out = os.path.join(pass_dir, "out")
        self.out_dirs.append(out)
        return [Op("fresh", lambda: self._run(ctx, out, "fresh")),
                Op("resume", lambda: self._run(ctx, out, "resume"))]

    def _run(self, ctx: Context, out: str, kind: str):
        with ctx.layers.pipeline(kind):
            frames = self.run.run_pipeline(
                ctx.spark, out, PUBMED_YEARS[0], PUBMED_YEARS[1],
                search=self.corpus.search, fetcher=self.fetcher)
        return lambda: ctx.layers.catalyst(
            *(frames[k] for k in ("articles", "keywords_v1", "keywords_v2")))

    def check(self, ctx: Context) -> dict[str, str | None]:
        """Every pass's output, after its fresh run and its resume."""
        err = None
        for out in self.out_dirs:
            err = err or checks.check_pubmed_output(out, self.corpus.abstract_rows)
        return {"fresh": err, "resume": err}

    def pass_extras(self, ctx: Context, pass_dir: str) -> dict:
        files = mb = 0
        for root, _dirs, names in os.walk(os.path.join(pass_dir, "out")):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    mb += os.path.getsize(os.path.join(root, n)) / 2**20
        now = (self.calls.value, self.retries.value, self.fetch_s.value)
        calls, retries, secs = (a - b for a, b in zip(now, self._acc_seen))
        self._acc_seen = now
        return {"sinks.files_written": files, "sinks.mb_written": mb,
                "ingest.pages": len(self.corpus.pages), "ingest.fetch_calls": calls,
                "ingest.retries": retries, "ingest.fetcher_s": secs}


WORKLOADS = {w.name: w for w in (QueryMix, PubmedEtl)}
