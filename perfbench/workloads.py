"""The benchmark workloads and the traced-run census components.

Each workload drives the package from outside through its public functions,
one closed-loop client (the next call goes out only after the previous one
returned). A workload has:

- ``inputs``: generate (or reuse) its seeded inputs, before any timing;
- ``warmup``: the per-session one-time work, timed into ``setup_s``;
- ``prepare``: an untimed cold pass before the timed window, whose
  outputs are checked (it also warms the JIT and caches);
- ``iterate``: one timed iteration, wrapped in tracer spans;
- ``census``: traced run only, after the timed window: calls that split a
  composite call into its layers, and the census components below;
- ``summary``/``layers``: end-to-end and per-layer numbers.

End-to-end metrics every workload reports (``op`` and ``item`` are defined
per workload in its docstring):

- ``iter_s``: median wall time of one iteration;
- ``op_p50_s``: median latency of the workload's unit operation.

Two product paths cost more per call than a whole untraced run may take
(see ``perfbench/README.md``), so they run once, checked and traced, in a
workload's traced run: ``CaptureCycle`` (capture -> sink -> restore/replay
-> publish) and ``StoreCycle`` (streaming ingest -> BM25/IVF stores ->
serve -> compact).
"""

from __future__ import annotations

import math
import os
import shutil
import time

import numpy as np

from perfbench import inputs
from perfbench.harness import median

CENSUS = "census"  # iteration id of every census span


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> tuple[int, int]:
    """(parquet files, their bytes) under ``path``."""
    files = size = 0
    for r, _, fs in os.walk(path):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(r, f))
    return files, size


def _span_s(s: dict) -> float:
    return s["end"] - s["start"]


class Workload:
    name = ""
    NOMINAL_ITER_S = 1.0
    MIN_ITERATIONS = 1

    def __init__(self, seed: int, cache: str, run_dir: str):
        self.seed = seed
        self.cache = cache
        self.run_dir = run_dir
        self.attempted = 0
        self.errors: list[str] = []
        self.samples: dict[str, list[float]] = {}

    def add(self, key: str, value: float) -> None:
        self.samples.setdefault(key, []).append(value)

    def attempt(self, label: str, fn):
        """Run one operation; an exception counts as a failed operation
        instead of aborting the run. Returns None on failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failing operation is a measured outcome
            self.errors.append(f"{label}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, label: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.errors.append(f"{label}: mismatch {detail}".strip())

    def reset_samples(self) -> None:
        self.samples = {}

    def iterations(self, seconds: int) -> int:
        """Timed iterations for a ``seconds`` window: the window divided by
        the iteration's nominal time on a 4-core host, at least
        ``MIN_ITERATIONS``. A fixed count, not a deadline, so every run
        medians the same mix of iterations (the first is still JIT-slowed)."""
        return max(self.MIN_ITERATIONS, math.ceil(seconds / self.NOMINAL_ITER_S))

    def prepare(self, spark) -> dict:
        return {}

    def census(self, spark, tr) -> dict:
        """Traced run only, after the timed window; returns details."""
        return {}


# ---------------------------------------------------------------------------
class ContractSweep(Workload):
    """Registered contract queries over the seeded sf0.01-shape fixture.

    op = one query call plus a noop action; item = one query; iteration =
    one pass over ``SWEEP`` in a seeded order. ``SWEEP`` is the cost-
    stratified subset that ``perfbench/profile_queries.py`` chose from a
    full pass over all registered queries (``perfbench/query_costs.json``):
    the queries are cut into 7 cost strata, and each gives the query
    nearest its median (preferring a query module not yet covered). An odd
    count puts the median query latency on one query's samples. A cold pass (checked: each query against its
    DuckDB oracle) and three timed passes fit the run budget. Census:
    ``StoreCycle``."""

    name = "contract_sweep"
    NOMINAL_ITER_S = 8.5
    MIN_ITERATIONS = 3
    SWEEP = (
        "pack_sequences", "q1_pricing_summary", "capture_pipeline", "asof_latest_order",
        "lineitem_stats", "time_bucketed_counts", "event_type_profile",
    )

    def __init__(self, *a, queries=None, **k):
        """``queries`` replaces the registry's queries (name -> callable);
        the oracles still come from the registry."""
        super().__init__(*a, **k)
        self.queries = queries

    def inputs(self) -> None:
        self.sf_dir = inputs.cached("fixture", self.seed, self.cache)

    def warmup(self, spark) -> None:
        from pulsar_replay_spark import registry

        registry.load_all()
        if self.queries is None:
            self.queries = {n: registry.QUERIES[n] for n in self.SWEEP}
        self.oracles = {n: o for n, o in registry.ORACLES.items() if n in self.queries}
        spark.read.parquet(f"{self.sf_dir}/lineitem.parquet").groupBy("l_returnflag").count().collect()

    def prepare(self, spark) -> dict:
        from tools.parity import compare, duck_connection

        con = duck_connection(self.sf_dir)
        no_oracle = []
        for name, fn in self.queries.items():
            got = self.attempt(name, lambda fn=fn: fn(spark, self.sf_dir).toPandas())
            if got is None:
                continue
            if name not in self.oracles:
                no_oracle.append(name)
                continue
            problems = compare(got, con.execute(self.oracles[name]).df())
            self.check(name, not problems, "; ".join(problems)[:300])
        con.close()
        return {"queries_without_oracle": no_oracle}

    def module(self, name: str) -> str:
        mod = getattr(self.queries[name], "__module__", "")
        return mod.rsplit(".", 1)[-1] if mod.startswith("pulsar_replay_spark.queries_") else "queries_other"

    def iterate(self, spark, it: int, tr) -> None:
        order = np.random.default_rng([self.seed, 1 + it]).permutation(list(self.queries))
        t_pass = time.perf_counter()
        for name in order:
            layer = self.module(name)

            def call(name=name, layer=layer):
                with tr.span(layer, f"build:{name}", it):
                    df = self.queries[name](spark, self.sf_dir)
                    tr.plan(df)
                with tr.span(layer, f"run:{name}", it):
                    _noop(df)
                return True

            t = time.perf_counter()
            if self.attempt(name, call):
                self.add("query", time.perf_counter() - t)
        self.add("iter", time.perf_counter() - t_pass)

    def summary(self) -> tuple[dict, dict]:
        q = self.samples.get("query", [0.0])
        it = self.samples.get("iter", [1.0])
        e2e = {"iter_s": median(it), "op_p50_s": median(q)}
        details = {
            "queries_per_s": (len(q) / sum(it), "1/s"),
            "sweep_s": (median(it), "s"),
            "query_p50_s": (median(q), "s"),
            "query_samples": (len(q), "count"),
        }
        return e2e, details

    def census(self, spark, tr) -> dict:
        self.stores = StoreCycle(self)
        return self.stores.run(spark, tr)

    def layers(self, spans: list[dict], counters: dict, out: dict) -> None:
        timed = [s for s in spans if s["iteration"] != CENSUS]
        passes = max(1, len({s["iteration"] for s in timed}))
        for s in timed:
            kind, qname = s["name"].split(":", 1)
            c = counters.get(s["id"], {})
            for key, v in ((f"{s['layer']}.{kind}_s", _span_s(s)), (f"{s['layer']}.jobs", c.get("jobs", 0)),
                           (f"{s['layer']}.shuffle_bytes", c.get("shuffle_write_bytes", 0)),
                           (f"q.{qname}.jobs", c.get("jobs", 0))):
                if key in out:
                    out[key] += v / passes
        if hasattr(self, "stores"):
            self.stores.layers(spans, counters, out)


# ---------------------------------------------------------------------------
class CurateFunnel(Workload):
    """``curate_corpus`` over a seeded corpus with planted near-duplicates
    and a partly contaminated eval set; decontamination and ``fix_text`` on.

    iteration = one ``curate_corpus`` call and its packed training
    sequences materialised; op = the call alone (its eager jobs run the
    dedup); item = one input document. An untimed cold call precedes the
    timed window, and its outputs are checked (funnel report, selection and
    splits); the checks also warm every stage but packing. Census: every
    funnel stage through its own operator, then ``CaptureCycle``."""

    name = "curate_funnel"
    NOMINAL_ITER_S = 6.5
    MIN_ITERATIONS = 3
    BUDGET = 3_000
    ARGS = dict(budget_tokens=BUDGET, fix_text=True, seq_len=128, n_shards=4)

    def inputs(self) -> None:
        self.dir = inputs.cached("corpus", self.seed, self.cache)
        self.n_docs = inputs.CURATE_DOCS

    def _frames(self, spark):
        return (spark.read.parquet(f"{self.dir}/docs.parquet"),
                spark.read.parquet(f"{self.dir}/evals.parquet"))

    def warmup(self, spark) -> None:
        docs, _ = self._frames(spark)
        docs.groupBy("source").count().collect()

    def _run(self, spark, it, tr):
        from pulsar_replay_spark import pipeline

        docs, evals = self._frames(spark)
        t0 = time.perf_counter()
        with tr.span("pipeline", "build", it):
            out = pipeline.curate_corpus(docs, benchmark=evals, **self.ARGS)
        t1 = time.perf_counter()
        with tr.span("pipeline", "run", it):
            tr.plan(out["packed"])
            _noop(out["packed"])
        return t1 - t0, time.perf_counter() - t0

    def prepare(self, spark) -> dict:
        from pyspark.sql import functions as F

        from pulsar_replay_spark import pipeline

        docs, evals = self._frames(spark)
        out = self.attempt("curate_corpus (cold pass)",
                           lambda: pipeline.curate_corpus(docs, benchmark=evals, **self.ARGS))
        collected = out and self.attempt("curate report", lambda: out["report"].collect())
        if not collected:
            return {}
        report = sorted((r.stage_idx, r.stage, r.n_docs) for r in collected)
        counts = [r[2] for r in report]
        self.check("funnel monotone", counts[0] == self.n_docs and counts[-1] > 0
                   and all(a >= b for a, b in zip(counts, counts[1:])), str(report))
        stages = {r[1]: r[2] for r in report}
        self.check("dedup and decontamination remove docs",
                   stages["deduped"] < stages["text_repaired"] and stages["decontaminated"] < stages["deduped"],
                   str(report))
        rows = (out["selected"].select("doc_id", "source", "n_tokens", F.lit(1).alias("sel"))
                .join(out["split"].select("doc_id", "split"), "doc_id", "full_outer").collect())
        per_source: dict[str, int] = {}
        for r in rows:
            per_source[r.source] = per_source.get(r.source, 0) + (r.n_tokens or 0)
        self.check("token budget", bool(rows) and all(t <= self.BUDGET for t in per_source.values()))
        self.check("splits partition the selection",
                   all(r.sel == 1 and r.split in ("train", "val", "test") for r in rows))
        return {"funnel": [list(r) for r in report]}

    def iterate(self, spark, it: int, tr) -> None:
        res = self.attempt(f"iteration {it}", lambda: self._run(spark, it, tr))
        if res is not None:
            self.add("call", res[0])
            self.add("iter", res[1])

    def summary(self) -> tuple[dict, dict]:
        it, call = self.samples.get("iter", [1.0]), self.samples.get("call", [1.0])
        return ({"iter_s": median(it), "op_p50_s": median(call)},
                {"curate_docs_per_s": (self.n_docs * len(it) / sum(it), "1/s")})

    def census(self, spark, tr) -> dict:
        """Each funnel stage through its own public operator, with the
        arguments ``curate_corpus`` passes it; then the capture cycle."""
        from pyspark.sql import functions as F

        from pulsar_replay_spark.operators import curation, dedup, packing, quality, textnorm

        docs, evals = self._frames(spark)
        with tr.span("textnorm", "repair_corpus", CENSUS):
            repaired = textnorm.repair_corpus(docs).localCheckpoint(eager=True)
        with tr.span("dedup", "dedup_corpus", CENSUS):
            pairs = dedup.minhash_candidate_pairs(repaired)
            deduped = dedup.dedup_corpus(repaired).localCheckpoint(eager=True)
        text = {r.doc_id: r.text for r in repaired.select("doc_id", "text").collect()}
        cand = pairs.collect()
        self.pairs = (len(cand), sum(_jaccard(text[r.doc_a], text[r.doc_b]) >= 0.5 for r in cand))
        with tr.span("dedup", "benchmark_overlap", CENSUS):
            clean = dedup.benchmark_overlap(deduped, evals, 8).filter(~F.col("contaminated")).select("doc_id")
            decon = deduped.join(clean, "doc_id", "left_semi").localCheckpoint(eager=True)
        with tr.span("quality", "drop_bottom_quantile", CENSUS):
            ttr = decon.select("doc_id", "source", curation.default_quality_score(F.col("text")).alias("score"))
            kept = quality.drop_bottom_quantile(ttr, 0.25).select("doc_id")
            filtered = decon.join(kept, "doc_id", "left_semi").localCheckpoint(eager=True)
        with tr.span("curation", "select_within_token_budget", CENSUS):
            selected = curation.select_within_token_budget(filtered, self.BUDGET).localCheckpoint(eager=True)
            split = curation.hash_split(selected).localCheckpoint(eager=True)
        with tr.span("packing", "pack_token_stream", CENSUS):
            train = filtered.join(split.filter(F.col("split") == "train").select("doc_id"), "doc_id", "left_semi")
            _noop(packing.pack_token_stream(train, seq_len=self.ARGS["seq_len"], n_shards=self.ARGS["n_shards"]))
        self.capture = CaptureCycle(self)
        return {"dedup_candidate_pairs": {"value": self.pairs[0], "unit": "count"},
                "dedup_true_pairs": {"value": self.pairs[1], "unit": "count"},
                **self.capture.run(spark, tr)}

    def layers(self, spans: list[dict], counters: dict, out: dict) -> None:
        timed = [s for s in spans if s["iteration"] != CENSUS]
        n = max(1, len({s["iteration"] for s in timed}))
        for s in timed:
            out[f"pipeline.{s['name']}_s"] += _span_s(s) / n
            out["pipeline.jobs"] += counters.get(s["id"], {}).get("jobs", 0) / n
        for s in spans:
            c = counters.get(s["id"], {})
            if s["layer"] == "textnorm":
                out["textnorm.py_s"] += _span_s(s)
                out["textnorm.py_bytes"] += c.get("py_bytes", 0)
            elif s["layer"] == "dedup":
                out["dedup.s"] += _span_s(s)
                out["dedup.shuffle_bytes"] += c.get("shuffle_write_bytes", 0)
            elif s["layer"] in ("quality", "curation", "packing"):
                out[f"{s['layer']}.s"] += _span_s(s)
        if hasattr(self, "pairs"):
            out["dedup.candidate_pairs"] = self.pairs[0]
            out["dedup.true_pair_ratio"] = self.pairs[1] / max(1, self.pairs[0])
        if hasattr(self, "capture"):
            self.capture.layers(spans, counters, out)


def _jaccard(a: str, b: str) -> float:
    """Word 3-shingle Jaccard similarity (the dedup operator's shingles)."""
    def sh(t: str) -> set:
        w = t.split()
        return {tuple(w[i:i + 3]) for i in range(max(1, len(w) - 2))}

    sa, sb = sh(a), sh(b)
    return len(sa & sb) / max(1, len(sa | sb))


# ---------------------------------------------------------------------------
class CaptureCycle:
    """The reference's product on a Zipf-skewed message stream: capture
    (per-topic counts over the bounded per-topic scan), sink (bounded scan
    -> envelope -> topic-partitioned Parquet), restore + ``replay_frame``
    through noop, and one publish batch of generated emailSend docs.
    Restored and replayed rows and payload bytes must equal the captured
    ones, and per-topic counts must equal ``capture_pipeline``'s."""

    MAX_PER_TOPIC = 100
    PUBLISH_MSGS = 10_000

    def __init__(self, wl: Workload):
        self.wl = wl
        self.src = inputs.cached("capture", wl.seed, wl.cache)
        self.out = os.path.join(wl.run_dir, "capture")

    def _envelope(self, spark):
        from pyspark.sql import functions as F

        from pulsar_replay_spark.catalog import with_topics
        from pulsar_replay_spark.envelope import MESSAGE_ENVELOPE, with_envelope
        from pulsar_replay_spark.functions.codecs import is_partition_topic
        from pulsar_replay_spark.operators.capture import bounded_scan
        from pulsar_replay_spark.session import load_events

        msgs = with_topics(load_events(spark, self.src)).filter(~is_partition_topic(F.col("topic")))
        scanned = bounded_scan(msgs, max_per_topic=self.MAX_PER_TOPIC)
        # every 13th payload is not valid UTF-8, so the base64 branch runs
        raw = F.when((F.col("event_id") % 13) == 0, F.concat(F.unhex(F.lit("FF80")), F.encode("props", "UTF-8"))
                     ).otherwise(F.encode(F.concat(F.col("event_type"), F.lit(":"), F.col("props")), "UTF-8"))
        env = with_envelope(scanned.withColumn("raw", raw)).select(
            "topic", "content", "raw", "binary_encoded",
            F.create_map(F.lit("user"), F.col("user_id").cast("string")).alias("properties"),
            F.col("ts").alias("publish_timestamp"),
            F.when((F.col("event_id") % 6) == 0, F.lit(None)).otherwise(F.col("ts")).alias("event_timestamp"),
            F.col("user_id").cast("string").alias("partition_key"),
        )
        return env.select(*[f.name for f in MESSAGE_ENVELOPE.fields])

    def _legs(self, spark, tr) -> dict:
        from pulsar_replay_spark.generator import generate_emailsend
        from pulsar_replay_spark.operators.capture import capture_pipeline
        from pulsar_replay_spark.session import load_events
        from pulsar_replay_spark.sources.jsonio import read_parquet_capture, replay_frame, write_parquet_capture

        t0 = time.perf_counter()
        with tr.span("capture", "capture_pipeline", CENSUS):
            counts = capture_pipeline(load_events(spark, self.src), max_per_topic=self.MAX_PER_TOPIC)
            tr.plan(counts)
            self.counts = {r.topic: r.n_msgs for r in counts.collect()}
        with tr.span("jsonio", "write_parquet_capture", CENSUS):
            env = self._envelope(spark)
            tr.plan(env)
            write_parquet_capture(env, self.out)
        t1 = time.perf_counter()
        with tr.span("jsonio", "restore", CENSUS):
            replay = replay_frame(read_parquet_capture(spark, self.out))
            tr.plan(replay)
            _noop(replay)
        t2 = time.perf_counter()
        with tr.span("generator", "generate_emailsend", CENSUS):
            pub = generate_emailsend(spark, self.PUBLISH_MSGS).select("id", "json")
            tr.plan(pub)
            _noop(pub)
        return {"capture": t1 - t0, "replay": t2 - t1, "publish": time.perf_counter() - t2}

    def run(self, spark, tr) -> dict:
        from pyspark.sql import functions as F

        from pulsar_replay_spark.sources.jsonio import read_parquet_capture, replay_frame

        wl = self.wl
        t = wl.attempt("capture cycle", lambda: self._legs(spark, tr))
        if t is None:
            return {}
        want = self._envelope(spark).agg(F.count("*").alias("n"), F.sum(F.length("raw")).alias("b")).first()
        restored = read_parquet_capture(spark, self.out)
        got_topics = {r.topic: r["count"] for r in restored.groupBy("topic").count().collect()}
        got = replay_frame(restored).agg(F.count("*").alias("n"), F.sum(F.length("payload")).alias("b")).first()
        wl.check("replayed rows", got.n == want.n == sum(self.counts.values()), f"{got.n} {want.n}")
        wl.check("replayed payload bytes", got.b == want.b, f"{got.b} {want.b}")
        wl.check("per-topic counts", got_topics == self.counts, f"{len(got_topics)} topics")
        self.kept, self.written = want.n, _dir_bytes(self.out)
        shutil.rmtree(self.out, ignore_errors=True)
        return {
            "capture_topics": {"value": len(got_topics), "unit": "count"},
            "capture_events_per_s": {"value": inputs.CAPTURE_EVENTS / t["capture"], "unit": "1/s"},
            "replay_events_per_s": {"value": want.n / t["replay"], "unit": "1/s"},
            "publish_msgs_per_s": {"value": self.PUBLISH_MSGS / t["publish"], "unit": "1/s"},
        }

    def layers(self, spans: list[dict], counters: dict, out: dict) -> None:
        for s in spans:
            c = counters.get(s["id"], {})
            if s["layer"] == "capture":
                out["capture.s"] = _span_s(s)
                out["capture.jobs"] = c.get("jobs", 0)
                out["capture.shuffle_bytes"] = c.get("shuffle_write_bytes", 0)
            elif s["name"] == "write_parquet_capture":
                out["jsonio.sink_s"] = _span_s(s)
            elif s["name"] == "restore":
                out["jsonio.restore_s"] = _span_s(s)
            elif s["layer"] == "generator":
                out["generator.s"] = _span_s(s)
        if hasattr(self, "kept"):
            out["capture.rows_kept_ratio"] = self.kept / inputs.CAPTURE_EVENTS
            out["jsonio.files_written"], out["jsonio.bytes_written"] = self.written


# ---------------------------------------------------------------------------
class StoreCycle:
    """Streaming ingest into the BM25 postings store and the IVF vector
    store, then serving from both.

    Starting from empty stores, each of ``INGEST_ROUNDS`` rounds adds one
    doc file and one vector file, drains them through
    ``postings_ingest_sink`` and ``ivf_store_ingest_sink`` (AvailableNow) and
    serves a fixed BM25 and a fixed ANN query batch; then both stores are
    compacted and served once more. Served top-k must equal the same calls
    over the raw ingested corpus and the in-session index."""

    N_CELLS = 16
    N_PROBE = 4

    def __init__(self, wl: Workload):
        self.wl = wl
        self.dir = inputs.cached("ingest", wl.seed, wl.cache)
        base = os.path.join(wl.run_dir, "stores")
        self.p = {k: os.path.join(base, k) for k in ("src_docs", "src_vecs", "postings", "ivf", "ck_p", "ck_v",
                                                     "postings_c", "ivf_c")}
        self.samples: dict[str, list[float]] = {"ingest": [], "bm25": [], "ann": []}

    def _queries(self, spark):
        return (spark.read.parquet(f"{self.dir}/bm25_queries.parquet"),
                spark.read.parquet(f"{self.dir}/ann_queries.parquet"))

    def _serve(self, spark, tr, postings: str, ivf: str) -> None:
        from pulsar_replay_spark.operators import retrieval, vecstore

        q, qv = self._queries(spark)
        for key, layer, fn in (
            ("bm25", "retrieval", lambda: retrieval.bm25_topk_from_index(spark, postings, q, k=10)),
            ("ann", "vecstore", lambda: vecstore.ivf_topk_from_index(spark, ivf, qv, k=5, n_probe=self.N_PROBE)),
        ):
            t = time.perf_counter()
            with tr.span(layer, "serve", CENSUS):
                df = fn()
                tr.plan(df)
                df.collect()
            self.samples[key].append(time.perf_counter() - t)

    def _cycle(self, spark, tr) -> None:
        from pulsar_replay_spark.operators import vecstore
        from pulsar_replay_spark.streaming import pipelines as sp

        p = self.p
        for k in ("src_docs", "src_vecs"):
            os.makedirs(p[k])
        for r in range(inputs.INGEST_ROUNDS):
            shutil.copy(f"{self.dir}/round{r}/docs.parquet", f"{p['src_docs']}/part-{r:03d}.parquet")
            shutil.copy(f"{self.dir}/round{r}/vectors.parquet", f"{p['src_vecs']}/part-{r:03d}.parquet")
            t = time.perf_counter()
            with tr.span("streaming.pipelines", "ingest", CENSUS):
                docs = sp.documents_stream(spark, p["src_docs"]).select("doc_id", "text")
                sp.postings_ingest_sink(docs, p["postings"], p["ck_p"]).awaitTermination()
                vecs = spark.readStream.schema(sp.EMB_SCHEMA).option("maxFilesPerTrigger", 1).parquet(p["src_vecs"])
                sp.ivf_store_ingest_sink(vecs.select("vec_id", "embedding"), p["ivf"], p["ck_v"],
                                         n_cells=self.N_CELLS).awaitTermination()
            self.samples["ingest"].append(time.perf_counter() - t)
            self._serve(spark, tr, p["postings"], p["ivf"])
        with tr.span("retrieval", "postings_compact", CENSUS):
            sp.postings_compact(spark, p["postings"], p["postings_c"])
        with tr.span("vecstore", "ivf_store_compact", CENSUS):
            vecstore.ivf_store_compact(spark, p["ivf"], p["ivf_c"])
        self._serve(spark, tr, p["postings_c"], p["ivf_c"])
        self.in_bytes = sum(_dir_bytes(p[k])[1] for k in ("src_docs", "src_vecs"))
        self.rewritten = {k: _dir_bytes(p[k])[1] for k in ("postings_c", "ivf_c")}

    def _verify(self, spark) -> None:
        from pulsar_replay_spark.operators import retrieval, similarity, vecstore

        p, wl = self.p, self.wl
        q, qv = self._queries(spark)
        docs = spark.read.parquet(p["src_docs"]).select("doc_id", "text")
        vecs = spark.read.parquet(p["src_vecs"]).select("vec_id", "embedding")

        def rows(df, cols):
            return sorted(tuple(r[c] for c in cols) for r in df.collect())

        bcols, acols = ("query_id", "doc_id", "score", "rk"), ("q_id", "neighbor_id", "sim", "rk")
        want_b = rows(retrieval.bm25_topk(docs, q, k=10), bcols)
        cents = vecstore.store_centroids(spark, p["ivf"])
        want_a = rows(similarity.ivf_topk(vecs, qv, k=5, n_probe=self.N_PROBE, centroids=cents), acols)
        for store_p, store_v in ((p["postings"], p["ivf"]), (p["postings_c"], p["ivf_c"])):
            got_b = rows(retrieval.bm25_topk_from_index(spark, store_p, q, k=10), bcols)
            got_a = rows(vecstore.ivf_topk_from_index(spark, store_v, qv, k=5, n_probe=self.N_PROBE), acols)
            wl.check(f"bm25 served = raw corpus ({os.path.basename(store_p)})", got_b == want_b and bool(want_b))
            wl.check(f"ann served = in-session index ({os.path.basename(store_v)})", got_a == want_a and bool(want_a))
        wl.check("all rows ingested", docs.count() == inputs.INGEST_ROUNDS * inputs.INGEST_ROWS)

    def run(self, spark, tr) -> dict:
        if self.wl.attempt("store cycle", lambda: self._cycle(spark, tr) or True) is None:
            return {}
        self._verify(spark)
        s = self.samples
        return {k: {"value": v, "unit": u} for k, v, u in (
            ("ingest_rows_per_s", 2 * inputs.INGEST_ROWS * len(s["ingest"]) / sum(s["ingest"]), "1/s"),
            ("bm25_serve_p50_s", median(s["bm25"]), "s"),
            ("bm25_serve_max_s", max(s["bm25"]), "s"),
            ("ann_serve_p50_s", median(s["ann"]), "s"),
            ("ann_serve_max_s", max(s["ann"]), "s"),
            ("store_bytes_per_input_byte", sum(self.rewritten.values()) / self.in_bytes, "ratio"),
        )}

    def layers(self, spans: list[dict], counters: dict, out: dict) -> None:
        ingest, serves = [], {"retrieval": [], "vecstore": []}
        for s in spans:
            c = counters.get(s["id"], {})
            if s["layer"] == "streaming.pipelines":
                ingest.append((s, c))
            elif s["name"] == "serve":
                serves[s["layer"]].append(c)
            elif s["name"] == "postings_compact":
                out["retrieval.compact_s"] = _span_s(s)
            elif s["name"] == "ivf_store_compact":
                out["vecstore.compact_s"] = _span_s(s)
        if ingest:
            out["ingest.batch_s"] = median([_span_s(s) for s, _ in ingest])
            out["ingest.jobs_per_batch"] = sum(c.get("jobs", 0) for _, c in ingest) / len(ingest)
            out["ingest.bytes_written"] = sum(c.get("output_bytes", 0) for _, c in ingest)
        for layer, cs in serves.items():
            if cs:
                out[f"{layer}.serve_jobs"] = sum(c.get("jobs", 0) for c in cs) / len(cs)
        if serves["retrieval"]:
            out["retrieval.files_read"] = sum(c.get("files_read", 0) for c in serves["retrieval"]) / len(
                serves["retrieval"])
        if serves["vecstore"]:
            scanned = sum(c.get("input_records", 0) for c in serves["vecstore"]) / len(serves["vecstore"])
            out["vecstore.rows_scanned_per_result"] = scanned / (5 * inputs.N_QUERIES)
        if hasattr(self, "rewritten"):
            out["retrieval.bytes_rewritten"] = self.rewritten["postings_c"]
            out["vecstore.bytes_rewritten"] = self.rewritten["ivf_c"]


WORKLOADS = {w.name: w for w in (ContractSweep, CurateFunnel)}
