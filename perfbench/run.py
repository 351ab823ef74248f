"""The repo benchmark: seeded workloads over a realistic-vocabulary corpus.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 4 --trace 0

Run from the repository root. Both workloads are closed loops with one
client in one driver process, on ``local[nproc]`` through
``typesense_spark.get_spark``:

- ``interactive``: single ``search()`` calls, each followed by
  ``hits.collect()`` (and the facet collect when the request asks for
  facets), cycling through two exact shapes and one typo query.
- ``query_log``: a seeded query log through ``batch_search_chunked``.

Both set up through the ingest path, ``build_index`` with ``key_cols``
(so ``assign_doc_ids`` runs; traced runs also time ``Index.save``), then
a warm-up of the workload's own operation on other queries, which also
loads the term dictionary. Set-up runs once per process: a cold session
and first build take most of the time one run may use (see README.md).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the
measured work once untraced and once with spans around each public call
(``tracing.py``), adds prefix probes, and prints the per-layer metrics
with the tracing overhead. Outputs are checked, untimed, against ground
truth from ``truth.py``; every exception or mismatch counts as a failed
operation. The last stdout line is the result JSON; the line before it
is a report with input sizes, sample counts and the environment.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_DOCS = 3000
HEAD_TERMS = 1000  # queries draw Zipf-popular terms from the top of the dictionary
CHUNK_QUERIES = 50
# a window of one chunk, or two when the first ended early, split qps in
# two modes (the second chunk runs faster); two always run
MIN_CHUNKS = 2
# every log query matches >= 10 docs, so drop_tokens_threshold=10 gives
# the same hits; 0 runs the plain batch plan, which costs a third of the
# drop-tokens cohort plan per chunk on 4 cores (~4 s vs ~12 s)
LOG_DROP_TOKENS = 0
WARM_QUERIES = 10
FIELDS = ("content",)
CYCLE = ["facet2", "or3", "typo"]
MAX_CYCLES = 30

# every per-layer metric, emitted by both workloads (0 where the
# workload does not exercise the layer)
LAYERS = {
    "setup.session_s": "s", "setup.corpus_s": "s", "setup.build_s": "s",
    "setup.term_dict_s": "s", "setup.warmup_s": "s",
    "search.expand.ms": "ms", "search.expand.candidates": "count",
    "search.expand.dict_terms": "count",
    "search.engine.call_ms": "ms", "search.engine.jobs": "count",
    "search.engine.attempts": "count",
    "index.scan.ms": "ms", "index.scan.blocks": "count",
    "index.decode.ms": "ms", "index.decode.postings": "count",
    "search.score.ms": "ms", "search.topk.ms": "ms",
    "search.filters.ms": "ms", "search.facets.ms": "ms",
    "search.exact.p50_ms": "ms", "search.typo.p50_ms": "ms",
    "search.batch.chunk_s": "s", "search.batch.expand_s": "s",
    "search.batch.decode_s": "s", "search.batch.jobs": "count",
    "search.batch.shuffle_bytes": "bytes", "search.batch.spill_bytes": "bytes",
    "index.build.assign_s": "s", "index.build.tokenize_stats_s": "s",
    "index.build.pack_s": "s", "index.build.save_s": "s",
    "index.build.jobs": "count", "index.build.shuffle_bytes": "bytes",
    "index.build.spill_bytes": "bytes",
    "index.codec.postings": "count", "index.codec.blocks": "count",
    "index.codec.bytes.postings": "bytes", "index.codec.bytes.terms": "bytes",
    "index.codec.bytes.doc_attrs": "bytes", "index.codec.bytes.docs": "bytes",
    "trace.overhead_pct": "%",
}


@dataclasses.dataclass
class Query:
    shape: str
    tokens: list[str]
    num_typos: int = 0
    prefix_last: bool = False
    mode: str = "and"
    lang: str | None = None
    facet: bool = False

    def request(self, **over):
        from typesense_spark.search import SearchRequest

        kw = dict(
            q=" ".join(self.tokens), fields=FIELDS, mode=self.mode,
            num_typos=self.num_typos, prefix_last=self.prefix_last,
            drop_tokens_threshold=10,
            filter_by=f"lang := {self.lang}" if self.lang else None,
            facet_by=("lang",) if self.facet else (),
        )
        kw.update(over)
        return SearchRequest(**kw)


# ------------------------------------------------------------------ inputs


def conj(truth, pool, k: int) -> list[str]:
    """``k`` distinct tokens from ``pool`` whose conjunction matches >=
    drop_tokens_threshold docs, so the query takes one drop-tokens
    attempt and the oracle models it."""
    while True:
        toks = [next(pool) for _ in range(k)]
        if len(set(toks)) == k and truth.docs_with_all(toks).size >= 10:
            return toks


def interactive_queries(truth, seed: int, n: int) -> list[Query]:
    """``n`` queries cycling CYCLE."""
    import gen

    pool = iter(gen.query_tokens(truth.dictionary[:HEAD_TERMS], seed, 10, 200 * n + 1000))
    salt = iter(gen.uniform(seed, 11, n))
    out = []
    for i in range(n):
        shape, h = CYCLE[i % len(CYCLE)], next(salt)
        if shape == "typo":  # reference defaults: num_typos=2, prefix on
            out.append(Query(shape, [gen.misspell(next(pool), h)], 2, True))
        elif shape == "or3":  # three distinct tokens, with a filter
            toks: list[str] = []
            while len(toks) < 3:
                toks += [t for t in conj(truth, pool, 1) if t not in toks]
            out.append(Query(shape, toks, mode="or", lang=gen.LANGS[h % len(gen.LANGS)]))
        else:
            out.append(Query(shape, conj(truth, pool, 2), facet=True))
    return out


def log_queries(truth, seed: int, n: int) -> list[Query]:
    """A query log of 1, 2 and 3 Zipf-popular tokens in turn (prefix on,
    the batch default)."""
    import gen

    pool = iter(gen.query_tokens(truth.dictionary[:HEAD_TERMS], seed, 20, 200 * n + 1000))
    return [Query("log", conj(truth, pool, 1 + i % 3), prefix_last=True) for i in range(n)]


# ----------------------------------------------------------------- helpers


def cpu_probe() -> dict:
    """Fixed single-thread workload + /proc/stat steal jiffies."""
    t0 = time.perf_counter()
    sum(i * i for i in range(1_000_000))
    out = {"spin_s": time.perf_counter() - t0}
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
        out["jiffies"], out["steal"] = sum(vals), vals[7] if len(vals) > 7 else 0
    except OSError:
        pass
    return out


def environment(before: dict, after: dict, spark_version: str) -> dict:
    import pyarrow

    steal = None
    if "jiffies" in before and "jiffies" in after:
        steal = 100.0 * (after["steal"] - before["steal"]) / max(
            after["jiffies"] - before["jiffies"], 1
        )
    spin = [before["spin_s"], after["spin_s"]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark": spark_version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
        "cpu_probe_s": spin,
        "steal_pct": steal,
        # a contended reading is flagged to be re-run, not explained away
        "contended": bool((steal or 0) > 5 or max(spin) > 1.5 * min(spin)),
    }


def tail(values: list[float]) -> float | None:
    """Highest percentile with at least 10 samples beyond it."""
    s = sorted(values)
    return s[-11] if len(s) >= 11 else None


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def rows_of(df, *cols) -> list[tuple]:
    return [tuple(r[c] for c in cols) for r in df.collect()]


class Run:
    """One benchmark process: session, corpus, set-ups, window, checks."""

    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.layers: dict[str, float] = {}

    def fail(self, what: str):
        self.failed += 1
        self.errors.append(what)

    def op(self, what: str, fn, *a):
        """One attempted operation (timed work or a check); an exception
        counts as a failure, not a crash."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.fail(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    # ---------------------------------------------------------- set-up

    def session(self):
        from tracing import Tracer
        from typesense_spark import get_spark

        n = len(os.sched_getaffinity(0))  # what nproc prints
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", master=f"local[{n}]", shuffle_partitions=n)
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")
        self.layers["setup.session_s"] = time.perf_counter() - t0
        self.spark_version = self.spark.version
        self.tr = Tracer(self.sc, enabled=bool(self.args.trace))

    def corpus(self):
        import pandas as pd

        import gen
        from truth import Truth

        t0 = time.perf_counter()
        self.data = gen.generate(N_DOCS, self.args.seed)
        self.pdf = pd.DataFrame(self.data.rows, columns=["repo", "path", "commit", "lang", "content"])
        self.layers["setup.corpus_s"] = time.perf_counter() - t0
        self.truth = Truth(self.data)  # check inputs, outside every timing

    def set_up(self, warm) -> dict:
        """The ingest path, timed: build_index with key_cols, then (traced
        runs only: it costs a run ~5 s) Index.save; then ``warm(ix)``."""
        from pyspark.sql import functions as F

        from typesense_spark.index import build_index

        out_dir = os.path.join(self.work, "index")
        tr = self.tr
        tr.request = "setup"
        t0 = time.perf_counter()
        with tr.span("index.build") as b:
            ix = build_index(
                self.spark, self.spark.createDataFrame(self.pdf),
                fields=list(FIELDS), key_cols=["repo", "path"],
            )
        t1 = time.perf_counter()
        sv = None
        if self.args.trace:
            with tr.span("index.save") as sv:
                ix.save(out_dir)
        t2 = time.perf_counter()
        cache_mb = sum(i.memSize() + i.diskSize() for i in self.sc._jsc.sc().getRDDStorageInfo()) / 1e6
        # the codec's encoded blocks: every binary column of the postings
        blobs = [f.name for f in ix.postings.schema if f.dataType.typeName() == "binary"]
        row = ix.postings.agg(*[F.sum(F.octet_length(c)) for c in blobs]).collect()[0]
        t3 = time.perf_counter()
        with tr.span("setup.warmup") as w:
            warm_hits = warm(ix)
        t4 = time.perf_counter()
        self.attempted += 1
        if ix.report.n_postings != self.truth.n_postings:
            self.fail(f"set-up: n_postings {ix.report.n_postings} != {self.truth.n_postings}")
        out = {
            "ix": ix, "out_dir": out_dir, "warm_hits": warm_hits, "cache_mb": cache_mb,
            "payload_bytes": sum(v or 0 for v in row),
            "build_s": t1 - t0, "save_s": t2 - t1, "warmup_s": t4 - t3,
            "total_s": self.layers["setup.session_s"] + self.layers["setup.corpus_s"]
            + (t1 - t0) + (t4 - t3),
            "stages": dict(ix.report.stages), "spans": [b, sv], "warm_span": w,
        }
        if self.args.trace:
            out["bytes"] = {
                p: dir_bytes(os.path.join(out_dir, p)) for p in ("postings", "terms", "doc_attrs", "docs")
            }
        return out

    def check_reload(self, s: dict, warm):
        """The saved index holds every posting and answers the warm-up
        like the in-memory one (traced runs only: loading costs a run
        ~2 s)."""
        from pyspark.sql import functions as F

        from typesense_spark.index import Index

        def go():
            ix = Index.load(self.spark, s["out_dir"])
            saved = ix.postings.agg(F.sum("n_docs")).collect()[0][0]
            if saved != self.truth.n_postings:
                self.fail(f"reload: {saved} postings saved, want {self.truth.n_postings}")
            if warm(ix) != s["warm_hits"]:
                self.fail("reload: warm-up results differ after Index.load")

        self.op("reload", go)

    # ----------------------------------------------------- interactive

    def search_op(self, ix, q: Query):
        from typesense_spark.search import search

        tr = self.tr
        t0 = time.perf_counter()
        with tr.span("search.engine"):
            r = search(ix, q.request())
        with tr.span("search.hits"):
            hits = rows_of(r.hits, "doc_id", "score_milli")
        facets = None
        if q.facet:
            with tr.span("search.facets"):
                facets = rows_of(r.facets["lang"], "facet_value", "facet_count")
        return time.perf_counter() - t0, hits, facets

    def check_search(self, q: Query, hits, facets):
        def go():
            want = [tuple(x) for x in self.truth.search(q)]
            if hits != want or (q.facet and facets != self.truth.facet(q.tokens)):
                self.fail(f"{q.shape} {q.tokens}: hits {hits[:2]} != oracle {want[:2]} or facets differ")

        self.op(f"check {q.tokens}", go)

    def run_interactive(self, ix, queries: list[Query]) -> dict[str, list[float]]:
        lat: dict[str, list[float]] = {"exact": [], "typo": []}
        done = []
        deadline = time.perf_counter() + self.args.seconds
        # whole cycles only, so every run measures the same shape mix
        for i, q in enumerate(queries):
            if i % len(CYCLE) == 0 and i and time.perf_counter() >= deadline:
                break
            out = self.op(f"{q.shape} {q.tokens}", self.search_op, ix, q)
            if out:
                lat["typo" if q.shape == "typo" else "exact"].append(out[0])
                done.append((q, *out))
        for q, _, hits, facets in done[: len(CYCLE)]:  # one cycle vs the oracle
            self.check_search(q, hits, facets)
        self.op_ms = [(q.shape, round(1e3 * dt)) for q, dt, _, _ in done]
        return lat

    def trace_interactive(self, ix, queries: list[Query]):
        """One cycle; each query runs untraced and traced (alternating
        which goes first), then prefix probes."""
        import typesense_spark.search.engine as engine
        from typesense_spark.index.build import Index

        tr = self.tr
        seen: dict = {}
        tr.wrap(engine, "expand_query", "search.expand", _count_expand)
        tr.wrap(Index, "decoded", "index.decoded", lambda s, a, kw, o: seen.update(terms=a[1]))
        plain, traced, rows = [], [], []
        for j, q in enumerate(queries[: len(CYCLE)]):
            tr.request = f"q{j}"
            for on in ((False, True) if j % 2 == 0 else (True, False)):
                tr.enabled = on
                with tr.span("op") as span:
                    out = self.op(f"{q.shape} {q.tokens}", self.search_op, ix, q)
                if out:
                    (traced if on else plain).append(out[0])
                if on:
                    op_span = span
            tr.enabled = True
            if out:
                self.check_search(q, *out[1:])
                rows.append(self.op("probe", self.probe, ix, q, op_span, seen.get("terms", [])))
        return plain, traced, [r for r in rows if r]

    def probe(self, ix, q: Query, op: dict, terms) -> dict:
        """Prefix probes over the traced request: scan only, scan +
        decode, matched set, hits (drop_tokens_threshold=0 gives the same
        matched set with one attempt and no persisted fallback count)."""
        import typesense_spark.search.engine as engine
        from typesense_spark.search import search
        from typesense_spark.search.filters import apply_filter_by
        from tracing import seconds

        tr = self.tr
        eng = tr.named("search.engine", op)[0]
        exp = tr.named("search.expand", eng)
        out = {
            "shape": q.shape, "op_ms": 1e3 * seconds([op]), "call_ms": 1e3 * seconds([eng]),
            "jobs": tr.jobs_under(eng), "expand_ms": 1e3 * seconds(exp),
            "candidates": sum(s.get("candidates", 0) for s in exp),
            "dict_terms": max((s.get("dict_terms", 0) for s in exp), default=0),
        }
        if q.facet:
            out["facets_ms"] = 1e3 * seconds(tr.named("search.facets", op))
        if q.shape == "typo":  # its layer is expansion, read from the call
            return out
        with tr.span("probe"):
            out["attempts"] = len(search(ix, q.request()).attempts)
            # the drop-tokens count persisted this query's matched set;
            # Spark would serve the probe's identical plan from that cache
            for cached in getattr(engine, "_score_cache", {}).values():
                for df in cached:
                    df.unpersist()
            r = search(ix, q.request(drop_tokens_threshold=0, facet_by=()))
            t0 = time.perf_counter()
            out["blocks"] = ix.candidate_postings(list(terms), list(FIELDS)).count()
            t1 = time.perf_counter()
            out["postings"] = ix.decoded(list(terms), list(FIELDS)).count()
            t2 = time.perf_counter()
            r.matched.count()
            t3 = time.perf_counter()
            r.hits.collect()
            t4 = time.perf_counter()
            if q.lang:
                apply_filter_by(ix.docs, f"lang := {q.lang}").count()
                out["filters_ms"] = 1e3 * (time.perf_counter() - t4)
        out.update(
            scan_ms=1e3 * (t1 - t0), decode_ms=1e3 * (t2 - t1 - (t1 - t0)),
            score_ms=1e3 * (t3 - t2 - (t2 - t1)), topk_ms=1e3 * (t4 - t3 - (t3 - t2)),
        )
        return out

    # ------------------------------------------------------- query log

    def chunk_op(self, ix, qs):
        from typesense_spark.search.batch import batch_search_chunked

        t0 = time.perf_counter()
        rows = []
        for df in batch_search_chunked(
            ix, [(f"q{j}", " ".join(q.tokens)) for j, q in enumerate(qs)],
            chunk_queries=CHUNK_QUERIES, fields=FIELDS, num_typos=0,
            drop_tokens_threshold=LOG_DROP_TOKENS, k=10,
        ):
            rows += rows_of(df, "qid", "rank", "doc_id", "score_milli")
        return time.perf_counter() - t0, rows

    def check_chunk(self, qs, rows, n: int = 3):
        """Sampled queries of a chunk against the oracle."""
        got: dict[str, list] = {}
        for qid, _, doc, score in sorted(rows):
            got.setdefault(qid, []).append((doc, score))
        for j in range(0, len(qs), len(qs) // n)[:n]:
            def go(q=qs[j], qid=f"q{j}"):
                if got.get(qid, []) != [tuple(x) for x in self.truth.search(q)]:
                    self.fail(f"query_log {q.tokens}: batch_search != oracle")

            self.op(f"query_log check {qs[j].tokens}", go)

    def run_query_log(self, ix, log) -> tuple[list[float], int]:
        lat, n, first = [], 0, None
        deadline = time.perf_counter() + self.args.seconds
        for i in range(0, len(log), CHUNK_QUERIES):
            if i >= MIN_CHUNKS * CHUNK_QUERIES and time.perf_counter() >= deadline:
                break
            qs = log[i : i + CHUNK_QUERIES]
            out = self.op("chunk", self.chunk_op, ix, qs)
            if out:
                lat.append(out[0])
                n += len(qs)
                first = first or (qs, out[1])
        if first:
            self.check_chunk(*first)
        return lat, n

    def trace_query_log(self, ix, log):
        """One chunk run untraced, then traced, plus a decode probe over
        the traced chunk's union of terms (one chunk: a traced run must
        fit the same time budget as an untraced one, plus ~50%)."""
        import typesense_spark.search.expand as expand
        from typesense_spark.index.build import Index
        from tracing import seconds

        tr = self.tr
        seen: set = set()
        tr.wrap(expand, "expand_token", "search.expand")
        tr.wrap(Index, "decoded", "index.decoded", lambda s, a, kw, o: seen.update(a[1]))
        plain, traced, rows = [], [], []
        for j, order in enumerate([(False, True)]):
            qs = log[j * CHUNK_QUERIES : (j + 1) * CHUNK_QUERIES]
            tr.request = f"chunk{j}"
            for on in order:
                tr.enabled = on
                seen.clear()
                with tr.span("search.batch.chunk") as span:
                    out = self.op("chunk", self.chunk_op, ix, qs)
                if not out:
                    continue
                (traced if on else plain).append(out[0])
                if on:
                    row = {
                        "chunk_s": out[0], "expand_s": seconds(tr.named("search.expand", span)),
                        "jobs": tr.jobs_under(span), "groups": [s["group"] for s in tr.subtree(span)],
                    }
                    with tr.span("probe"):
                        t0 = time.perf_counter()
                        ix.decoded(sorted(seen), list(FIELDS), spread=True).count()
                        row["decode_s"] = time.perf_counter() - t0
                    rows.append(row)
            tr.enabled = True
            if out:
                self.check_chunk(qs, out[1])
        return plain, traced, rows


def _count_expand(span, args, kwargs, out):
    span["candidates"] = sum(len(v) for v in out.values())
    span["dict_terms"] = len(args[1])


# ------------------------------------------------------------- metrics


def end_to_end(run: Run, setup: dict, lat: list[float], n_queries: int) -> dict:
    return {
        "setup_s": setup["total_s"],
        "qps": n_queries / sum(lat),
        "ingest_docs_per_s": N_DOCS / setup["build_s"],
        "postings_bytes_per_src_byte": setup["payload_bytes"] / run.data.content_bytes,
        "cache_mb": setup["cache_mb"],
    }


def per_layer(run: Run, setup: dict, rows: list[dict], ev: dict) -> dict:
    from tracing import seconds

    tr = run.tr
    L = dict(run.layers)

    def col(key, pick=lambda r: True):
        return median([r[key] for r in rows if key in r and pick(r)])

    def bytes_of(spans, i):
        return sum(ev.get(d["group"], [0, 0])[i] for s in spans for d in tr.subtree(s))

    builds = [s for s in setup["spans"] if s]
    dict_s = seconds(tr.named("setup.term_dict", setup["warm_span"]))
    L.update({
        "setup.build_s": setup["build_s"],
        "setup.term_dict_s": dict_s,
        "setup.warmup_s": setup["warmup_s"] - dict_s,
        "index.build.assign_s": seconds(tr.named("index.build.assign", builds[0])),
        "index.build.tokenize_stats_s": setup["stages"]["tokenize_stats_sec"],
        "index.build.pack_s": setup["stages"]["pack_sec"],
        "index.build.save_s": setup["save_s"],
        "index.build.jobs": sum(tr.jobs_under(s) for s in builds),
        "index.build.shuffle_bytes": bytes_of(builds, 0),
        "index.build.spill_bytes": bytes_of(builds, 1),
        "index.codec.postings": setup["ix"].report.n_postings,
        "index.codec.blocks": setup["blocks"],
    })
    for part, b in setup["bytes"].items():
        L[f"index.codec.bytes.{part}"] = b
    exact = lambda r: r.get("shape") != "typo"  # noqa: E731
    typo = lambda r: r.get("shape") == "typo"  # noqa: E731
    if run.args.workload == "interactive":
        L.update({
            "search.expand.ms": col("expand_ms", typo),
            "search.expand.candidates": col("candidates", typo),
            "search.expand.dict_terms": col("dict_terms"),
            "search.engine.call_ms": col("call_ms", exact),
            "search.engine.jobs": col("jobs", exact),
            "search.engine.attempts": col("attempts"),
            "index.scan.ms": col("scan_ms", exact),
            "index.scan.blocks": col("blocks", exact),
            "index.decode.ms": col("decode_ms", exact),
            "index.decode.postings": col("postings", exact),
            "search.score.ms": col("score_ms", exact),
            "search.topk.ms": col("topk_ms", exact),
            "search.filters.ms": col("filters_ms"),
            "search.facets.ms": col("facets_ms"),
            "search.exact.p50_ms": col("op_ms", exact),
            "search.typo.p50_ms": col("op_ms", typo),
        })
    else:
        groups = lambda r, i: sum(ev.get(g, [0, 0])[i] for g in r["groups"])  # noqa: E731
        L.update({
            "search.batch.chunk_s": col("chunk_s"),
            "search.batch.expand_s": col("expand_s"),
            "search.batch.decode_s": col("decode_s"),
            "search.batch.jobs": col("jobs"),
            "search.batch.shuffle_bytes": median([groups(r, 0) for r in rows]),
            "search.batch.spill_bytes": median([groups(r, 1) for r in rows]),
        })
    return L


# ---------------------------------------------------------------- main


def configure(args, work: str):
    """Spark JVM and Python worker environment; all scratch stays inside
    the checkout's ``.perfbench`` directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = [
        "spark.ui.showConsoleProgress=false",
        f"spark.local.dir={tmp}",
    ]
    if args.trace:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        conf += ["spark.eventLog.enabled=true", f"spark.eventLog.dir={ev}", "spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {c}" for c in conf) + " pyspark-shell"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # every JVM, the launcher's too: temp files and perf data stay inside
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    tempfile.tempdir = tmp


def stop(spark):
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        spark.stop()
    if gw is not None and getattr(gw, "proc", None) is not None:
        try:
            gw.shutdown()
        except Exception:
            pass
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


def measure(run: Run) -> tuple[dict, dict]:
    """Set up, run the workload, check; returns (metrics, report)."""
    import typesense_spark.index.build as build
    import typesense_spark.search.batch as batch
    import typesense_spark.search.engine as engine
    from tracing import event_log_bytes

    args, tr = run.args, run.tr
    run.corpus()
    # warm-up inputs come from another seed, so no measured query is warm
    if args.workload == "interactive":
        queries = interactive_queries(run.truth, args.seed, MAX_CYCLES * len(CYCLE))
        warm_q = interactive_queries(run.truth, args.seed + 7919, 1)[0]
        warm = lambda ix: run.search_op(ix, warm_q)[1]  # noqa: E731
    else:
        log = log_queries(run.truth, args.seed, 10 * CHUNK_QUERIES)
        warm_log = log_queries(run.truth, args.seed + 7919, WARM_QUERIES)
        warm = lambda ix: sorted(run.chunk_op(ix, warm_log)[1])  # noqa: E731

    tr.wrap(build, "assign_doc_ids", "index.build.assign")
    tr.wrap(engine, "_get_term_df", "setup.term_dict")
    tr.wrap(batch, "_get_term_df", "setup.term_dict")
    setup = run.set_up(warm)
    if args.trace:
        run.check_reload(setup, warm)
    ix = setup["ix"]
    report = {
        "docs": N_DOCS, "distinct_terms": len(run.truth.dictionary),
        "postings": run.truth.n_postings, "content_bytes": run.data.content_bytes,
        **{k: setup[k] for k in ("build_s", "warmup_s", "payload_bytes")}, **run.layers,
    }

    if args.workload == "interactive":
        if args.trace:
            lat, traced, rows = run.trace_interactive(ix, queries)
        else:
            by = run.run_interactive(ix, queries)
            lat = by["exact"] + by["typo"]
            report["op_ms"] = run.op_ms
            report.update({
                f"{c}_{k}": v for c in by for k, v in (
                    ("samples", len(by[c])), ("p50_ms", 1e3 * median(by[c])),
                    ("tail_ms", tail(by[c]) and 1e3 * tail(by[c])),
                )
            })
        n = len(lat)
    else:
        if args.trace:
            lat, traced, rows = run.trace_query_log(ix, log)
        else:
            lat, _ = run.run_query_log(ix, log)
        n = len(lat) * CHUNK_QUERIES
        report.update(chunks=len(lat), chunk_queries=CHUNK_QUERIES)
    report["ops"] = len(lat)
    tr.unwrap_all()
    metrics = {k: (v, UNITS[k]) for k, v in end_to_end(run, setup, lat, n).items()}
    if not args.trace:
        return metrics, report

    report["end_to_end_traced_run"] = {k: v for k, (v, _) in metrics.items()}
    setup["blocks"] = ix.postings.count()
    stop(run.spark)  # finalizes the event log
    layers = per_layer(run, setup, rows, event_log_bytes(os.path.join(run.work, "events")))
    layers["trace.overhead_pct"] = 100.0 * (sum(traced) / sum(lat) - 1)
    tr.dump(os.path.join(run.work, "spans.jsonl"))
    return {k: (layers.get(k, 0.0), u) for k, u in LAYERS.items()}, report


UNITS = {
    "setup_s": "s", "qps": "1/s", "ingest_docs_per_s": "docs/s",
    "postings_bytes_per_src_byte": "ratio", "cache_mb": "MB",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["interactive", "query_log"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "typesense_spark", "__init__.py")):
        print("perfbench: no typesense_spark package in this checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    configure(args, work)

    t0 = time.perf_counter()
    probe0 = cpu_probe()
    run = Run(args, work)
    run.session()
    try:
        metrics, report = measure(run)
    finally:
        stop(run.spark)
        # a traced run keeps only its spans
        for sub in os.listdir(work):
            if sub != "spans.jsonl":
                shutil.rmtree(os.path.join(work, sub), ignore_errors=True)
        if not os.listdir(work):
            os.rmdir(work)
    report["env"] = environment(probe0, cpu_probe(), run.spark_version)
    report["wall_s"] = time.perf_counter() - t0
    report["errors"] = run.errors[:5]
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
