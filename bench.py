"""Benchmark harness — prints ONE JSON line.

Phases:

1. **Scaling evidence** (north rule, sandbox substitute for N vs 4N
   executors): the IDENTICAL index-build job (same corpus, same
   partitioning) at two core counts, each run in a FRESH subprocess
   (sequential SparkSessions share one JVM — the first session's heap
   settings and fragmentation pollute later runs), best of
   ``SPARK_GRAFT_BENCH_TRIALS`` trials per level (this box is a shared
   VM with CPU steal; min wall ≈ true capability). Two 4x pairs are
   reported: 2→8 cores (underloaded — neither level contends with
   Python workers for physical cores) and 8→32 (the canonical pair;
   note 32 vCPUs here are ~26 effective cores due to SMT — a pure-CPU
   spin test caps 8→32 efficiency at ~0.81 before any framework cost).

2. **Headline queries** at ``$SPARK_GRAFT_SF_DIR`` (default sf0.1) on
   ``local[$SPARK_GRAFT_CPUS]``: representative gate operators, each
   timed end-to-end (plan → collect).

Output: {"metric", "value" (headline total sec), "unit": "sec",
"queries": {name: sec}, "sf", "build": {...}, "scaling": {...}}.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

BENCH_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "100000"))
# best-of-4 (r4 VERDICT #3): this box shows CPU-steal windows that can
# depress one whole level by 20-30% (observed: the same build 21.5s vs
# 27s minutes apart) — two trials can both land inside a bad window,
# three leave the median one contended round from dragging; with four
# paired rounds the upper-middle ratio discards one corrupted round on
# EITHER side of the pick
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "4"))
PARTITIONS = 64  # identical job at every level: fixed partitioning

BUILD_KW = dict(
    fields=["content"],
    key_cols=["repo", "path", "commit"],
    num_buckets=32,
    block_size=128,
    salt_threshold=60_000,
    n_salts=8,
)

HEADLINE = [
    "exact_term",
    "multi_and",
    "multi_or",
    "typo",
    "typo_osa",
    "prefix",
    "filter",
    "filter_dsl",
    "synonyms",
    "facet_counts",
    "grouped",
    "wand_or",
    "dedup_minhash",
    "dedup_jaccard",
    "ann_topk",
    "quality",
    "fingerprint",
    "events_window",
]


def _scale_path_queries(spark, sf_dir: str) -> dict:
    """Production-mode variants of the ops whose GATE entries pin
    oracle-parity modes (dense_rank ids, quadratic verifier): the gate
    measures parity, these measure the path you'd run at scale."""
    from typesense_spark.ops.dedup import lsh_candidate_pairs, simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = {}
    t0 = time.time()
    lsh_candidate_pairs(docs, "text", use_hash_ids=True).count()
    out["dedup_minhash_hashids"] = round(time.time() - t0, 3)
    t0 = time.time()
    simhash_pairs(docs, "text", use_hash_ids=True).count()  # pigeonhole join
    out["simhash_pairs_pigeonhole"] = round(time.time() - t0, 3)
    return out


def _media_features_bench(spark, n: int = 100_000) -> dict:
    """r3 VERDICT #3 evidence: image+audio feature extraction over ≥100k
    REAL synthetic payloads (24-bit BMPs / 16-bit PCM WAVs), generated
    distributed and persisted UNTIMED; the timed part is the mapInArrow
    buffer-sliced extraction only."""
    import pandas as pd

    from typesense_spark.ops.multimodal import (
        audio_features,
        encode_bmp,
        extract_features,
        synth_wav,
    )

    def gen(batches):
        import numpy as np

        # 8 distinct payloads per kind, indexed per row — realistic
        # variety without per-row encoders dominating generation
        bmps = [
            encode_bmp(np.full((16, 16, 3), (37 * k) % 256, dtype=np.uint8))
            for k in range(8)
        ]
        wavs = [synth_wav(freq_hz=200 + 50 * k, ms=100) for k in range(8)]
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            kinds = ["image" if i % 2 == 0 else "audio" for i in ids]
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "kind": kinds,
                    "payload": [
                        bytearray(bmps[i % 8] if i % 2 == 0 else wavs[i % 8])
                        for i in ids
                    ],
                }
            )

    media = (
        spark.range(n)
        .repartition(64)
        .mapInPandas(gen, schema="media_id long, kind string, payload binary")
        .persist()
    )
    n_rows = media.count()  # materialize generation outside the clock
    out = {}
    t0 = time.time()
    n_img = extract_features(media.where("kind = 'image'")).count()
    out["media_features_100k"] = round(time.time() - t0, 3)
    t0 = time.time()
    n_aud = audio_features(media).count()
    out["audio_features_50k"] = round(time.time() - t0, 3)
    media.unpersist()
    assert n_img + n_aud == n_rows
    return out


def _build_session(master: str):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName(f"bench-{master}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .getOrCreate()
    )


def build_run(master: str) -> None:
    """Subprocess entry: one warm-up + one timed build; prints JSON."""
    from typesense_spark.corpus import corpus_df
    from typesense_spark.index import build_index

    spark = _build_session(master)
    try:
        warm = corpus_df(spark, 500, partitions=16).persist()
        warm.count()
        build_index(spark, warm, **{**BUILD_KW, "num_buckets": 4})
        warm.unpersist()
        src = corpus_df(spark, BENCH_DOCS, partitions=PARTITIONS).persist()
        n_src = src.count()
        t0 = time.time()
        ix = build_index(spark, src, **BUILD_KW)
        elapsed = time.time() - t0
        print(
            json.dumps(
                {
                    "master": master,
                    "docs": n_src,
                    "postings": ix.report.n_postings,
                    "elapsed_sec": round(elapsed, 3),
                    "docs_per_sec": round(n_src / elapsed, 1),
                    "postings_per_sec": round(ix.report.n_postings / elapsed, 1),
                    "stages": ix.report.stages,
                }
            )
        )
    finally:
        spark.stop()


def soak_run(master: str, n_docs: int) -> None:
    """Subprocess entry: the sf1 scale soak (r2 VERDICT #10) — one
    uncontended build of a 1M-doc corpus + a filtered AND query + a
    WAND OR query, with shuffle/spill totals parsed from the Spark
    event log (the 100×-story evidence: absolute numbers AND whether
    any stage spilled)."""
    import glob
    import tempfile

    from pyspark.sql import SparkSession

    evdir = tempfile.mkdtemp(prefix="ts_soak_ev_")
    spark = (
        SparkSession.builder.master(master)
        .appName("soak-sf1")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(2 * PARTITIONS))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "50000")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        # one JVM plays 32 executors in local mode: give it the heap a
        # 32-slot cluster would have, or the sf1 caches thrash a 16g
        # heap into GC + spill that no real executor would see
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_SOAK_DRIVER_MEM", "48g"),
        )
        .getOrCreate()
    )
    from typesense_spark.corpus import corpus_df
    from typesense_spark.index import build_index
    from typesense_spark.search import SearchRequest, search

    src = corpus_df(spark, n_docs, partitions=2 * PARTITIONS).persist()
    n_src = src.count()
    t0 = time.time()
    ix = build_index(spark, src, **BUILD_KW)
    build_wall = time.time() - t0
    # three-way phase accounting (r4 ADVICE): the two timed queries
    # were previously folded into the build counters
    query_start_ms = int(time.time() * 1000)
    t0 = time.time()
    search(
        ix,
        SearchRequest(q="import return", fields=("content",), num_typos=0,
                      filter_expr="lang = 'python'"),
    ).hits.collect()
    q_and = time.time() - t0
    t0 = time.time()
    search(
        ix,
        SearchRequest(q="merge0 index0 batch0", fields=("content",),
                      num_typos=0, mode="or", use_wand=True, per_page=20),
    ).hits.collect()
    q_wand = time.time() - t0
    # sf1 batch throughput (r3 VERDICT #9) — CHUNKED (r4 VERDICT #2):
    # the 4000-query log runs as qid chunks, each chunk one set-oriented
    # plan run as its own action, so in-flight aggregation state is
    # bounded by chunk size at any log size (the unchunked mega-plan
    # spilled ~300 GB at this scale)
    from typesense_spark.search.batch import batch_search_chunked
    from typesense_spark.search.engine import _get_term_df

    vocab = sorted(_get_term_df(ix, ("content",)))
    qs = []
    for i in range(4000):
        n = 1 + (i * 2654435761) % 3
        toks = [vocab[(i * 40503 + j * 69069) % len(vocab)] for j in range(n)]
        qs.append((f"b{i}", " ".join(toks)))
    chunk_queries = int(os.environ.get("SPARK_GRAFT_BATCH_CHUNK", "500"))
    batch_start_ms = int(time.time() * 1000)
    t0 = time.time()
    for chunk in batch_search_chunked(
        ix, qs, chunk_queries=chunk_queries, fields=("content",), num_typos=0, k=10
    ):
        chunk.count()
    batch_dt = time.time() - t0
    postings = ix.report.n_postings
    spark.stop()  # finalizes the event log

    # spill/shuffle accounting split by phase on task finish time: the
    # BUILD must stay spill-free (the 100×-story criterion); the batch
    # phase is reported separately so the build's zero isn't masked
    phases = {
        "build": [0, 0, 0],  # mem, disk, shuffle-write
        "queries": [0, 0, 0],
        "batch": [0, 0, 0],
    }
    paths = [p for p in glob.glob(f"{evdir}/**", recursive=True) if os.path.isfile(p)]
    for path in paths:
        with open(path, errors="ignore") as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                try:
                    d = json.loads(line)
                except json.JSONDecodeError:
                    continue
                m = d.get("Task Metrics") or {}
                fin = (d.get("Task Info") or {}).get("Finish Time", 0)
                ph = phases[
                    "batch"
                    if fin >= batch_start_ms
                    else ("queries" if fin >= query_start_ms else "build")
                ]
                ph[0] += m.get("Memory Bytes Spilled", 0)
                ph[1] += m.get("Disk Bytes Spilled", 0)
                ph[2] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    print(
        json.dumps(
            {
                "master": master,
                "docs": n_src,
                "postings": postings,
                "build_sec": round(build_wall, 3),
                "docs_per_sec": round(n_src / build_wall, 1),
                "build_stages": ix.report.stages,
                "query_filtered_and_sec": round(q_and, 3),
                "query_wand_or_sec": round(q_wand, 3),
                "batch_qps": round(len(qs) / batch_dt, 1),
                "batch_chunk_queries": chunk_queries,
                "shuffle_write_bytes": phases["build"][2],
                "memory_bytes_spilled": phases["build"][0],
                "disk_bytes_spilled": phases["build"][1],
                "query_phase": {
                    "memory_bytes_spilled": phases["queries"][0],
                    "disk_bytes_spilled": phases["queries"][1],
                    "shuffle_write_bytes": phases["queries"][2],
                },
                "batch_phase": {
                    "memory_bytes_spilled": phases["batch"][0],
                    "disk_bytes_spilled": phases["batch"][1],
                    "shuffle_write_bytes": phases["batch"][2],
                },
            }
        )
    )


def _spawn_build(master: str, cores: int) -> dict:
    """Run one build in a fresh subprocess PINNED to exactly ``cores``
    CPUs (taskset) — in local mode Python workers otherwise spill onto
    idle cores, silently inflating low-N throughput and corrupting the
    N-vs-4N comparison."""
    cmd = [sys.executable, __file__, "--build-run", master]
    if os.path.exists("/usr/bin/taskset") or os.path.exists("/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def headline_queries(sf_dir: str, cores: int) -> tuple[dict, float, float]:
    from typesense_spark import gate, get_spark

    spark = get_spark("bench-queries", master=f"local[{cores}]", shuffle_partitions=2 * cores)
    timings: dict[str, float] = {}
    try:
        ix = gate.get_index(spark, sf_dir)  # index build = setup, timed above
        total = 0.0
        for name in HEADLINE:
            # best-of-2: the first call carries plan compilation and any
            # co-tenant bandwidth dip (this box swings ±30% with ZERO
            # visible steal — see cpu_probe); min ≈ true capability
            best = None
            for _ in range(2):
                t0 = time.time()
                gate.QUERIES[name](spark, sf_dir).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            timings[name] = round(best, 3)
            total += best

        # set-oriented throughput: 4000 queries in ONE job (the Spark
        # answer to the reference's 250-concurrent-qps-on-3-nodes
        # baseline; qps grows with batch size — marginal per-query cost
        # is an aggregation row, not a job)
        from typesense_spark.search.batch import batch_search
        from typesense_spark.search.engine import _get_term_df

        vocab = sorted(_get_term_df(ix, ("text",)))
        qs = []
        for i in range(4000):
            n = 1 + (i * 2654435761) % 3
            toks = [vocab[(i * 40503 + j * 69069) % len(vocab)] for j in range(n)]
            qs.append((f"b{i}", " ".join(toks)))
        # best-of-2, like the headline queries: the first run carries
        # plan compilation (measured ~2× the steady-state wall here)
        batch_dt = None
        for _ in range(2):
            t0 = time.time()
            n_rows = batch_search(ix, qs, fields=("text",), num_typos=0, k=10).count()
            dt = time.time() - t0
            batch_dt = dt if batch_dt is None else min(batch_dt, dt)
        batch_qps = round(len(qs) / batch_dt, 1) if n_rows >= 0 else 0.0

        # typo-tolerant batch (num_typos=2): every unique token expands
        # in one call of the expansion router (engine._expand) — the r2
        # bench only measured the typo-free path
        tqs = []
        for i in range(1000):
            base = vocab[(i * 2654435761) % len(vocab)]
            mutated = (base[:-1] + "x") if len(base) > 3 else base
            tqs.append((f"t{i}", mutated))
        typo_dt = None
        for _ in range(2):
            t0 = time.time()
            n_rows2 = batch_search(
                ix, tqs, fields=("text",), num_typos=2, k=10, mode="or"
            ).count()
            dt = time.time() - t0
            typo_dt = dt if typo_dt is None else min(typo_dt, dt)
        batch_qps_typo2 = round(len(tqs) / typo_dt, 1) if n_rows2 >= 0 else 0.0

        # FULL-surface batch (r3 VERDICT #1): typo expansion + prefix +
        # drop-tokens fallback + synonym windows + typo deepening — the
        # reference runs all of these on every request, so this is the
        # apples-to-apples throughput surface for a real query-log replay
        from typesense_spark.search.synonyms import SynonymRule, SynonymStore

        store = SynonymStore(
            [SynonymRule("r0", (vocab[0], vocab[1]), ((vocab[2],),))]
        )
        fqs = []
        for i in range(1000):
            n = 1 + (i * 2654435761) % 3
            toks = [vocab[(i * 48271 + j * 16807) % len(vocab)] for j in range(n)]
            fqs.append((f"f{i}", " ".join(toks)))
        full_dt = None
        for _ in range(2):
            t0 = time.time()
            n_rows3 = batch_search(
                ix, fqs, fields=("text",), num_typos=1, k=10,
                drop_tokens_threshold=10, synonym_store=store,
                typo_tokens_threshold=10,
            ).count()
            dt = time.time() - t0
            full_dt = dt if full_dt is None else min(full_dt, dt)
        batch_qps_full = round(len(fqs) / full_dt, 1) if n_rows3 >= 0 else 0.0
        timings.update(_scale_path_queries(spark, sf_dir))
        timings.update(_media_features_bench(spark))
        return timings, total, batch_qps, batch_qps_typo2, batch_qps_full
    finally:
        spark.stop()


def _cpu_probe() -> dict:
    """Fixed single-thread workload + /proc/stat steal counters: the
    denominator for cross-round comparison. This shared VM's effective
    CPU speed swings ±30% with ZERO visible steal (co-tenant memory
    bandwidth) — a bench reading without a capability probe can't be
    told apart from a code regression."""
    import numpy as np

    a = np.arange(4_000_000, dtype=np.float64)
    acc = float(np.dot(a, a))  # untimed warm-up (allocation, page-in)
    t0 = time.time()
    for _ in range(60):
        acc += float(np.dot(a, a))
    spin_sec = round(time.time() - t0, 3)
    steal = total_jiffies = None
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        total_jiffies, steal = sum(vals), vals[7] if len(vals) > 7 else 0
    except Exception:
        pass
    return {"spin_sec": spin_sec, "_stat": (total_jiffies, steal), "acc": acc != 0}


def _steal_pct(before: dict, after: dict):
    try:
        t0, s0 = before["_stat"]
        t1, s1 = after["_stat"]
        return round(100.0 * (s1 - s0) / max(t1 - t0, 1), 2)
    except Exception:
        return None


def _spawn_submit_build(cores: int, n_docs: int, zip_path: str, input_path: str) -> dict:
    """north-rule launch-shape evidence: the LITERAL
    ``spark-submit --py-files <pkg.zip> jobs/build_index_job.py`` run
    (what a real multi-executor cluster submission looks like), pinned
    to ``cores`` CPUs. Throughput derives from the manifest's per-stage
    walls (JVM/session startup excluded, same accounting as the python
    build trials); the manifest also carries the per-group lineage +
    postings/sec the rule asks for."""
    import shutil
    import tempfile

    out_dir = tempfile.mkdtemp(prefix=f"ts_submit_{cores}c_")
    spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
    cmd = [
        spark_submit,
        "--master", f"local[{cores}]",
        "--py-files", zip_path,
        "--conf", "spark.ui.enabled=false",
        "--driver-memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "jobs", "build_index_job.py"),
        "--input", input_path,
        "--key-cols", "repo,path,commit",
        "--out", out_dir,
        "--no-resume",
        # 2 commit groups: each group re-tokenizes map-side, so group
        # count multiplies tokenize CPU — the launch-shape evidence
        # wants the build cost, not the resume-granularity trade-off
        # (kill/resume correctness is pytest's job)
        "--n-groups", "2",
    ]
    if os.path.exists("/usr/bin/taskset") or os.path.exists("/bin/taskset"):
        cmd = ["taskset", "-c", f"0-{cores - 1}"] + cmd
    env = dict(os.environ, SPARK_GRAFT_MASTER=f"local[{cores}]")
    t0 = time.time()
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=1200, env=env)
    submit_wall = time.time() - t0
    job = json.loads(proc.stdout.strip().splitlines()[-1])
    build_wall = job["build_wall_sec"]  # checkpointed_build wall, JVM
    # + session startup excluded (groups overlap, so summing per-stage
    # marker walls would double-count)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "cmd": "spark-submit --py-files typesense_spark.zip jobs/build_index_job.py",
        "master": f"local[{cores}]",
        "docs": n_docs,
        "total_postings": job["total_postings"],
        "build_wall_sec": build_wall,
        "docs_per_sec": round(n_docs / max(build_wall, 1e-9), 1),
        "submit_wall_sec": round(submit_wall, 3),
        "rc": proc.returncode,
    }


def _submit_section(n_docs: int) -> dict:
    """Run the spark-submit launch shape at N=2 and 4N=8 pinned cores
    (the same clean-core pair as the python trials) and report the
    north rule's scaling efficiency between them."""
    import tempfile
    import zipfile

    pkg = os.path.join(os.path.dirname(os.path.abspath(__file__)), "typesense_spark")
    zip_path = os.path.join(tempfile.mkdtemp(prefix="ts_pyfiles_"), "typesense_spark.zip")
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    zf.write(full, os.path.relpath(full, os.path.dirname(pkg)))
    # the corpus is synthesized ONCE, untimed, outside the pinned jobs —
    # the submit levels must time the BUILD, exactly like the in-memory
    # trials (which materialize the source before starting the clock)
    input_path = os.path.join(tempfile.mkdtemp(prefix="ts_submit_src_"), "corpus")
    from typesense_spark import get_spark
    from typesense_spark.corpus import corpus_df

    gen = get_spark("submit-src-gen")
    corpus_df(gen, n_docs).write.mode("overwrite").parquet(input_path)
    gen.stop()

    levels = {}
    for cores in (2, 8):
        trials = [
            _spawn_submit_build(cores, n_docs, zip_path, input_path)
            for _ in range(2)
        ]
        levels[f"{cores}c"] = min(trials, key=lambda r: r["build_wall_sec"])
    eff = round(
        (levels["8c"]["docs_per_sec"] / levels["2c"]["docs_per_sec"]) / 4.0, 3
    )
    return {**levels, "efficiency_2_to_8": eff}


def _spawn_soak(n_docs: int, cores: int) -> dict:
    cmd = [sys.executable, __file__, "--soak-run", f"local[{cores}]", str(n_docs)]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=1800)
    line = out.stdout.strip().splitlines()[-1]
    return json.loads(line)


def main() -> None:
    if len(sys.argv) > 2 and sys.argv[1] == "--build-run":
        build_run(sys.argv[2])
        return
    if len(sys.argv) > 3 and sys.argv[1] == "--soak-run":
        soak_run(sys.argv[2], int(sys.argv[3]))
        return

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    probe_start = _cpu_probe()

    # PAIRED interleaved trials (r3 VERDICT #7): this box's co-tenant
    # contention comes in multi-minute windows; running all trials of
    # one level then all of the next lets a window depress ONE level
    # and corrupt the ratio (r3's driver read 0.747 exactly this way —
    # its 8c block was slow while its 2c block was clean). Each round
    # runs every level back-to-back, so drift hits both sides of a
    # ratio equally; the headline efficiency is the best PAIRED round
    # (throughputs still report per-level best across rounds).
    levels = [2, 8, 32]
    best: dict[int, dict] = {}
    rounds: list[dict[int, dict]] = []
    all_trials: dict[str, list] = {f"{c}c": [] for c in levels}
    for _ in range(TRIALS):
        rnd = {c: _spawn_build(f"local[{c}]", c) for c in levels}
        rounds.append(rnd)
        for c in levels:
            all_trials[f"{c}c"].append(rnd[c]["elapsed_sec"])
            if c not in best or rnd[c]["elapsed_sec"] < best[c]["elapsed_sec"]:
                best[c] = rnd[c]

    def paired(lo: int, hi: int) -> list[float]:
        return sorted(
            round((r[hi]["docs_per_sec"] / r[lo]["docs_per_sec"]) / (hi / lo), 3)
            for r in rounds
        )

    def eff(lo: int, hi: int) -> float:
        # MEDIAN of paired ratios: a contention window during one level
        # of one round biases that round's ratio (low if it hit the
        # high-core level, high — even super-linear — if it hit the
        # low-core level); the median discards one corrupted round on
        # EITHER side, where max/min/ratio-of-bests are each one-sided
        ratios = paired(lo, hi)
        return ratios[len(ratios) // 2]

    queries, total, batch_qps, batch_qps_typo2, batch_qps_full = headline_queries(
        sf_dir, cpus
    )

    # KEY ORDER IS LOAD-BEARING (r3 VERDICT #10): the driver records the
    # TAIL of stdout, and r3's per-query timings were truncated off the
    # FRONT of the line. Bulky diagnostic sections (build/scaling/submit/
    # soak) lead; the headline metric + per-query map close the line so
    # any front-truncation loses diagnostics, never the contract fields.
    out = {
        "build": {f"local{c}": best[c] for c in levels},
        "scaling": {
            "corpus_docs": BENCH_DOCS,
            "trials_per_level": TRIALS,
            "docs_per_sec": {f"{c}c": best[c]["docs_per_sec"] for c in levels},
            "postings_per_sec": {f"{c}c": best[c]["postings_per_sec"] for c in levels},
            "efficiency_2_to_8": eff(2, 8),
            "efficiency_8_to_32": eff(8, 32),
            "paired_ratios_2_to_8": paired(2, 8),
            "paired_ratios_8_to_32": paired(8, 32),
            "trial_walls_sec": all_trials,
            "note": "paired interleaved rounds: efficiency = MEDIAN same-round ratio (one contended round on either side discarded); 32 vCPU = ~26 effective cores (SMT) — see BASELINE.md",
        },
    }

    # spark-submit --py-files launch-shape evidence (north rule) at
    # N=2 / 4N=8 pinned cores — set SPARK_GRAFT_SUBMIT_DOCS=0 to skip
    submit_docs = int(os.environ.get("SPARK_GRAFT_SUBMIT_DOCS", "50000"))
    if submit_docs > 0:
        try:
            out["spark_submit"] = _submit_section(submit_docs)
        except Exception as e:  # never sink the whole bench
            out["spark_submit"] = {"error": str(e)[:200]}

    # sf1 scale soak (1M docs, one uncontended run, spill metrics) —
    # set SPARK_GRAFT_SOAK_DOCS=0 to skip
    soak_docs = int(os.environ.get("SPARK_GRAFT_SOAK_DOCS", "1000000"))
    if soak_docs > 0:
        try:
            out["sf1_soak"] = _spawn_soak(soak_docs, cpus)
        except Exception as e:  # the soak must never sink the whole bench
            out["sf1_soak"] = {"error": str(e)[:200]}

    probe_end = _cpu_probe()
    out["environment"] = {
        # fixed single-thread workload, seconds (lower = faster box);
        # compare across rounds before reading any other number
        "cpu_probe_sec": [probe_start["spin_sec"], probe_end["spin_sec"]],
        "steal_pct_during_bench": _steal_pct(probe_start, probe_end),
    }
    out.update(
        {
            "metric": "headline_query_suite_sec",
            "value": round(total, 3),
            "unit": "sec",
            "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            "batch_qps": batch_qps,
            "batch_qps_typo2": batch_qps_typo2,
            "batch_qps_full": batch_qps_full,
            "queries": queries,
        }
    )
    # belt-and-braces for the tail capture: the full JSON also lands on
    # disk next to this script
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"),
            "w",
        ) as f:
            json.dump(out, f)
    except OSError:
        pass
    print(json.dumps(out))


if __name__ == "__main__":
    main()
