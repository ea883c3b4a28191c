"""Repository benchmark: seeded workloads against the public API of
``clinical_trial_searchengine_spark``, answers checked against the
single-node oracle (``tests/oracle.py``).

Run from the repository root::

    python3 perfbench/run.py --workload serve-novel --seed 1 --seconds 10 --trace 0

Human-readable lines go first; the last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes the
spans file).  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import pickle
import shutil
import subprocess
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "clinical_trial_searchengine_spark")
WORK = os.path.join(HERE, ".work")
N_DOCS = 10_000  # corpus size: see README.md "Sizes" for why not 50k
CORPUS_SEED = 42
CORPUS_FILES = 8
RUN_LIMIT_S = 170  # hard stop below the 180 s a run may take
COVERAGE_MIN = 0.9  # share of a request's wall time its spans must cover


def code_key() -> str:
    """Hash of the code the cached inputs depend on: the package (corpus
    generator, build, codec, segment format), the oracle and the
    benchmark.  Cached inputs and run history live under it, so each
    version of the code builds and checks against its own."""
    files = [os.path.join(ROOT, "tests", "oracle.py")]
    for top in (PACKAGE, HERE):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x != ".work"]
            files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


CODE = code_key()
CACHE = os.path.join(WORK, "cache", CODE)
RESULTS = os.path.join(WORK, "results", CODE)
CORPUS = os.path.join(CACHE, f"corpus-n{N_DOCS}-s{CORPUS_SEED}")
BASE_INDEX = os.path.join(CACHE, f"index-n{N_DOCS}-s{CORPUS_SEED}")
ORACLE = os.path.join(CACHE, f"oracle-n{N_DOCS}-s{CORPUS_SEED}.pkl")
ANSWERS = os.path.join(CACHE, f"answers-n{N_DOCS}-s{CORPUS_SEED}.json")


class Bench:
    """State of one benchmark run: session, engine, samples and checks."""

    def __init__(self, args, run_dir: str):
        from spans import Tracer, TreeWatch

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.nproc = len(os.sched_getaffinity(0))
        self.run_dir = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.watch = TreeWatch()
        self.spark = None
        self.eng = None
        self.corpus_df = None
        self._corpus_pdf = None
        self.setup_parts: dict[str, float] = {}
        self.build_meta: dict = {}  # the last full build the run made
        self.build_wall = 0.0  # wall time of the run's index-writing calls
        self.ops: list[float] = []  # one latency per workload operation
        self.ops_wall = 0.0
        self.ops_done = 0
        self.query_lat: list[float] = []  # direct queries beside the ops
        self.probe_lat: list[float] = []
        self.issued_texts: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict = {}
        self.info: dict = {}
        self.rid_of: dict[str, str] = {}
        self.request_span: dict[str, dict] = {}
        self.queries_by_group: dict[str, int] = {}
        self._plans_seen: list = []
        self._plan_ids: set[int] = set()
        self.plan_calls = 0
        self.plan_hits = 0
        self._lock = threading.Lock()

    # -- session and index ---------------------------------------------------

    def start_session(self) -> None:
        """Host fit: ``local[nproc]``, a driver heap below physical RAM
        through the package's SPARK_DRIVER_MEM setting, and private local,
        temp and event-log directories inside the run directory."""
        local = os.path.join(self.run_dir, "spark-local")
        tmp = os.path.join(self.run_dir, "tmp")
        for d in (local, tmp):
            os.makedirs(d, exist_ok=True)
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        os.environ["SPARK_DRIVER_MEM"] = f"{min(2048, phys_mb // 4)}m"
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp  # the module caches the first one it saw
        os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
            f"-XX:+UseParallelGC -Djava.io.tmpdir={tmp}")
        os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.tracer.enabled:
            log_dir = os.path.join(self.run_dir, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from clinical_trial_searchengine_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name="perfbench", master=f"local[{self.nproc}]",
                shuffle_partitions=self.nproc, extra_conf=conf)
        self.setup_parts["session"] = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext

    def make_inputs(self) -> None:
        """The synthetic corpus, the base index built from it and the
        base-corpus oracle are the benchmark's fixed inputs: made once per
        version of the code (the corpus as bench.py does), outside set-up
        time.  Every run then works on its own copy of the index."""
        from clinical_trial_searchengine_spark.engine import SearchEngine
        from clinical_trial_searchengine_spark.sources.corpus import (
            generate_corpus_df,
        )
        from workloads import build_args

        os.makedirs(CACHE, exist_ok=True)
        if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
            tmp = f"{CORPUS}.tmp{os.getpid()}"
            generate_corpus_df(
                self.spark, N_DOCS, seed=CORPUS_SEED, partitions=CORPUS_FILES
            ).write.mode("overwrite").parquet(tmp)
            shutil.rmtree(CORPUS, ignore_errors=True)
            os.replace(tmp, CORPUS)
        if not os.path.exists(os.path.join(BASE_INDEX, "meta.json")):
            tmp = f"{BASE_INDEX}.tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            meta = SearchEngine(self.spark, tmp).build(
                self.spark.read.parquet(CORPUS), **build_args(N_DOCS))
            if meta["num_docs"] != N_DOCS:
                raise RuntimeError(
                    f"built {meta['num_docs']} docs, expected {N_DOCS}")
            shutil.rmtree(BASE_INDEX, ignore_errors=True)
            os.replace(tmp, BASE_INDEX)
        if not os.path.exists(ORACLE):
            self.oracle()

    def corpus_pdf(self):
        if self._corpus_pdf is None:
            import pandas as pd

            self._corpus_pdf = pd.read_parquet(CORPUS)
        return self._corpus_pdf

    def setup_index(self, warm: bool = True):
        """Set-up shared by the workloads: a private copy of the base index,
        opened and, when the workload queries it as it is, warmed."""
        from clinical_trial_searchengine_spark.engine import SearchEngine

        tr = self.tracer
        t0 = time.perf_counter()
        from clinical_trial_searchengine_spark.sources.corpus import (
            CORPUS_SCHEMA,
        )

        # a given schema spares the schema-inference job
        self.corpus_df = self.spark.read.schema(CORPUS_SCHEMA).parquet(CORPUS)
        self.setup_parts["corpus"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        index = os.path.join(self.run_dir, "index")
        shutil.copytree(BASE_INDEX, index)
        self.eng = SearchEngine(self.spark, index)
        self.setup_parts["index_copy"] = time.perf_counter() - t0
        if warm:
            t0 = time.perf_counter()
            with tr.span("query.warm", group="warm:setup"):
                self.eng.warm()
            self.setup_parts["warm"] = time.perf_counter() - t0
        return self.eng

    # -- queries and checks --------------------------------------------------

    def run_query(self, eng, text, k, rid, group, timed=True):
        from workloads import traced_topk

        if timed:
            self.issued_texts.append(text)
        a = time.perf_counter()
        rows = traced_topk(self, eng, text, k, rid, group)
        if timed:
            self.query_lat.append(time.perf_counter() - a)
        return rows

    def note_plan(self, df) -> None:
        """Plan-cache hit: ``search()`` returned a DataFrame object it had
        returned before."""
        with self._lock:
            self.plan_calls += 1
            if id(df) in self._plan_ids:
                self.plan_hits += 1
            else:
                self._plan_ids.add(id(df))
                self._plans_seen.append(df)  # alive, so no id is reused

    def count_queries(self, group: str, n: int) -> None:
        with self._lock:
            self.queries_by_group[group] = self.queries_by_group.get(group, 0) + n

    def fail(self, msg: str) -> None:
        with self._lock:
            self.failed += 1
            if len(self.failures) < 10:
                self.failures.append(msg)

    def oracle(self, corpus=None):
        """``BM25Oracle`` over ``corpus`` (a pandas frame) or, by default,
        over the base corpus, pickled once per version of the code (unpickling takes
        ~0.5 s, building it ~3.5 s)."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle import BM25Oracle  # also what unpickling resolves

        if corpus is not None:
            return BM25Oracle(corpus)
        if os.path.exists(ORACLE):
            with open(ORACLE, "rb") as f:
                return pickle.load(f)
        oracle = BM25Oracle(self.corpus_pdf())
        with open(f"{ORACLE}.tmp{os.getpid()}", "wb") as f:
            pickle.dump(oracle, f, protocol=pickle.HIGHEST_PROTOCOL)
        os.replace(f"{ORACLE}.tmp{os.getpid()}", ORACLE)
        return oracle

    def check_against_oracle(self, answers, corpus=None) -> None:
        """Compare (rid, text, k, rows-or-exception) with ``BM25Oracle``:
        docIDs equal, scores within 1e-9.  The oracle runs over the base
        corpus, whose answers depend only on (text, k) and are cached per
        version of the code, or over ``corpus`` when given."""
        from workloads import same_answer

        t0 = time.perf_counter()
        cache: dict = {}
        cache_file = None
        oracle = None
        if corpus is not None:
            oracle = self.oracle(corpus)
        else:
            cache_file = ANSWERS
            if os.path.exists(cache_file):
                with open(cache_file) as f:
                    cache = json.load(f)
        new = 0
        for rid, text, k, got in answers:
            self.attempted += 1
            if isinstance(got, Exception):
                self.fail(f"{rid} {text!r}: {type(got).__name__}: {got}")
                continue
            key = f"{k}\t{text}"
            want = cache.get(key)
            if want is None:
                oracle = oracle or self.oracle()
                want = cache[key] = [list(x) for x in oracle.search(text, k)]
                new += 1
            if not same_answer(got, want):
                self.fail(f"{rid} {text!r} k={k}: got {got[:3]}..., "
                          f"oracle {want[:3]}...")
        self.info["oracle_check_s"] = (
            self.info.get("oracle_check_s", 0.0) + time.perf_counter() - t0)
        if new and cache_file:
            tmp = f"{cache_file}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(cache, f)
            os.replace(tmp, cache_file)

    def profile_blocks(self, eng, texts) -> None:
        """Block decode/skip counts from ``SearchEngine.profile`` on a
        fixed subset of the run's texts."""
        dec = skip = n = 0
        for i, (text, k) in enumerate(texts):
            with self.tracer.span("query.profile", group=f"check:profile{i}"):
                _decision, stats = eng.profile(text, k)
                rows = stats.select("n_blocks", "blocks_decoded").collect()
            dec += sum(int(r["blocks_decoded"]) for r in rows)
            skip += sum(int(r["n_blocks"]) - int(r["blocks_decoded"])
                        for r in rows)
            n += 1
        self.layer["query.blocks_decoded"] = dec / n if n else 0.0
        self.layer["query.blocks_skipped"] = skip / n if n else 0.0

    # -- shutdown ------------------------------------------------------------

    def stop(self) -> None:
        """Stop Spark, close the JVM gateway and wait for every process
        this run started to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            finally:
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=30)
                    except subprocess.TimeoutExpired:  # reaped below
                        proc.kill()
                SparkContext._gateway = None
                SparkContext._jvm = None
        self.watch.stop()
        self.watch.reap()


# -- metrics -----------------------------------------------------------------


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def segment_bytes(index_dir: str) -> dict[str, int]:
    """Bytes per segment kind, summed over every generation directory."""
    out: dict[str, int] = {}
    for dirpath, dirs, _files in os.walk(index_dir):
        for d in dirs:
            if d in ("postings", "norms", "doc_meta", "term_stats"):
                out[d] = out.get(d, 0) + du(os.path.join(dirpath, d))
    return out


def end_to_end(b: Bench) -> dict:
    from spans import median, tail

    setup_s = sum(b.setup_parts.values())
    op_tail, pct, n = tail(b.ops)
    content = int(b.corpus_pdf()["content"].str.len().sum())
    b.info["content_bytes"] = content
    m = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (median(b.ops), "s"),
        "op_tail_s": (op_tail, "s"),
        "ops_per_s": (b.ops_done / b.ops_wall if b.ops_wall else 0.0, "1/s"),
        "peak_rss_mb": (b.watch.peak_bytes / 2**20, "MB"),
        "index_bytes_per_content_byte": (
            du(b.eng.index_dir) / content, "ratio"),
    }
    b.info["op_tail_percentile"] = pct
    b.info["op_samples"] = n
    return m


def per_layer(b: Bench, e2e: dict) -> dict:
    """Every per-layer metric, from spans, the event log, the index
    directory, the server's counters and two fixed driver-side samples."""
    import numpy as np
    import pyarrow as pa

    from clinical_trial_searchengine_spark.functions.analysis import (
        analyze_flat_arrow,
    )
    from clinical_trial_searchengine_spark.functions.codec import (
        decode_postings,
        encode_postings,
    )
    from spans import (
        blocking_coverage,
        group_totals,
        median,
        read_event_log,
        self_times,
    )

    spans = b.tracer.spans
    by_name: dict[str, list[float]] = {}
    for s in spans:
        if s["end"] is not None:
            by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
    st = b.build_meta.get("stage_seconds", {})
    L: dict[str, tuple[float, str]] = {}
    L["session.start_s"] = (b.setup_parts["session"], "s")
    for stage in ("assign_doc_ids", "doc_meta", "stats_verify",
                  "postings_write", "term_stats", "norms"):
        L[f"build.{stage}_s"] = (float(st.get(stage, 0.0)), "s")

    log = read_event_log(os.path.join(b.run_dir, "eventlog"))
    bt = group_totals(log, "ingest:")
    corpus_bytes = du(CORPUS)
    scans = 0
    for sid in bt["stage_ids"]:
        s = log["stages"][sid]
        # a stage that reads most of the corpus bytes read the content
        # column (the doc_id pass reads only the key columns)
        if s["in_bytes"] >= corpus_bytes // 2:
            scans += 1
    L["build.content_scans"] = (scans, "count")
    L["build.task_s"] = (bt["run_s"], "s")
    L["build.core_busy_share"] = (
        bt["run_s"] / (b.nproc * b.build_wall) if b.build_wall else 0.0, "share")
    L["build.shuffle_write_bytes"] = (bt["shuffle_write"], "B")
    L["build.spill_bytes"] = (bt["spill"], "B")

    # fixed driver-side samples: analyzer and codec throughput
    texts = pa.array(b.corpus_pdf()["content"].iloc[:2000].tolist())
    runs = []
    for _ in range(3):
        with b.tracer.span("analysis.sample"):
            t0 = time.perf_counter()
            *_rest, doc_lens = analyze_flat_arrow(texts, "standard")
            runs.append(time.perf_counter() - t0)
    L["analysis.tokens_per_s"] = (float(np.sum(doc_lens)) / median(runs), "1/s")
    rng = np.random.default_rng(0)
    lists = []
    for size in (rng.zipf(1.3, 300) % N_DOCS) + 1:
        ids = np.unique(rng.integers(0, N_DOCS, size=int(size)))
        lists.append((ids.astype(np.uint64),
                      rng.integers(1, 8, size=ids.size).astype(np.uint64)))
    n_post = sum(ids.size for ids, _ in lists)
    enc, dec = [], []
    for _ in range(3):
        with b.tracer.span("codec.sample"):
            t0 = time.perf_counter()
            bufs = [encode_postings(i, t, codec="pfor")[0] for i, t in lists]
            t1 = time.perf_counter()
            for buf in bufs:
                decode_postings(buf)
            t2 = time.perf_counter()
        enc.append(t1 - t0)
        dec.append(t2 - t1)
    L["codec.encode_postings_per_s"] = (n_post / median(enc), "1/s")
    L["codec.decode_postings_per_s"] = (n_post / median(dec), "1/s")

    import pyarrow.parquet as pq

    seg_b = segment_bytes(b.eng.index_dir)
    ts_dir = os.path.join(b.eng.index_dir, "term_stats")
    postings_total = int(pa.compute.sum(
        pq.read_table(ts_dir, columns=["df"])["df"]).as_py())
    L["codec.bytes_per_posting"] = (
        seg_b.get("postings", 0) / max(1, postings_total), "B")
    for kind in ("postings", "norms", "doc_meta", "term_stats"):
        L[f"segments.{kind}_bytes"] = (seg_b.get(kind, 0), "B")
    L["segments.generations"] = (b.layer.get("segments.generations", 1), "count")
    L["segments.tombstones"] = (b.layer.get("segments.tombstones", 0), "count")

    n_q = sum(v for g, v in b.queries_by_group.items()
              if g.startswith(("query:", "serving:")))
    qt = group_totals(log, "query:")
    sv = group_totals(log, "serving:")
    q_jobs, q_tasks = qt["jobs"] + sv["jobs"], qt["tasks"] + sv["tasks"]
    q_task_s = qt["run_s"] + sv["run_s"]
    L["query.analyze_s"] = (median(by_name.get("query.analyze", [])), "s")
    L["query.df_lookup_s"] = (median(by_name.get("query.df_lookup", [])), "s")
    L["query.plan_s"] = (median(by_name.get("query.plan", [])), "s")
    L["query.plan_cache_hit_ratio"] = (
        b.plan_hits / b.plan_calls if b.plan_calls else 0.0, "share")
    L["query.job_s"] = (median(by_name.get("query.job", [])), "s")
    L["query.warm_s"] = (b.setup_parts.get("warm", 0.0), "s")
    L["query.jobs_per_query"] = (q_jobs / n_q if n_q else 0.0, "count")
    L["query.tasks_per_query"] = (q_tasks / n_q if n_q else 0.0, "count")
    L["query.task_s_per_query"] = (q_task_s / n_q if n_q else 0.0, "s")
    L["query.blocks_decoded"] = (b.layer.get("query.blocks_decoded", 0.0), "count")
    L["query.blocks_skipped"] = (b.layer.get("query.blocks_skipped", 0.0), "count")

    served = b.layer.get("serving.queries_served", 0)
    batches = b.layer.get("serving.batches_run", 0)
    L["serving.batch_size_mean"] = (served / batches if batches else 0.0, "count")
    L["serving.batch_job_s"] = (median(by_name.get("serving.batch_job", [])), "s")
    L["serving.queue_wait_s"] = (median(by_name.get("serving.queue", [])), "s")

    for kind in ("add", "upsert", "delete", "rewarm"):
        L[f"ingest.{kind}_s"] = (median(b.layer.get(f"ingest.{kind}_s", [])), "s")
    L["ingest.compactions"] = (b.layer.get("ingest.compactions", 0), "count")

    selfs = self_times(spans)
    for layer in ("query", "serving", "ingest"):
        L[f"{layer}.self_s"] = (selfs.get(layer, 0.0), "s")
    L["workload.repeat_share"] = (b.info.get("repeat_share", 0.0), "share")
    # the blocking path of each request a caller waits on: a direct query,
    # a served request (queue wait + the batch job that served it) or an
    # ingest mutation until visible; each kind is one check
    cov = blocking_coverage(
        spans, ("query.request", "serving.request", "ingest.visible"))
    shares = {}
    for root, (covered, wall, n) in cov.items():
        shares[root] = covered / wall if wall else 0.0
        b.attempted += 1
        if shares[root] < COVERAGE_MIN:
            b.fail(f"blocking-path spans cover {shares[root]:.1%} of "
                   f"{n} {root} spans' wall time, below {COVERAGE_MIN:.0%}")
    b.info["blocking_coverage"] = shares
    L["trace.blocking_coverage"] = (min(shares.values(), default=0.0), "share")
    L["trace.spans"] = (len(spans), "count")
    base = untraced_baseline(b.workload)
    over = e2e["op_p50_s"][0] / base - 1.0 if base else 0.0
    L["trace.overhead_share"] = (over, "share")
    b.info["trace_overhead_baseline_runs"] = len(base_hist(b.workload))
    b.info["trace_overhead"] = {
        k: (v[0] / h - 1.0) for k, v in e2e.items()
        if (h := untraced_baseline(b.workload, k))
    }
    return L


def base_hist(workload: str) -> list[dict]:
    path = os.path.join(RESULTS, f"{workload}.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def untraced_baseline(workload: str, key: str = "op_p50_s") -> float:
    """Median of this code version's untraced runs of the workload."""
    from spans import median

    vals = [h[key] for h in base_hist(workload) if key in h]
    return median(vals) if vals else 0.0


def record_untraced(workload: str, e2e: dict) -> None:
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{workload}.jsonl"), "a") as f:
        f.write(json.dumps({k: v[0] for k, v in e2e.items()}) + "\n")


# -- main ----------------------------------------------------------------------


def make_inputs(args) -> float | None:
    """Make this version's missing inputs in a Spark session of their own,
    stopped before the run starts, so the first run of a version measures
    from the same cold state as every later one.  Returns the seconds it
    took, or None when the inputs were already there."""
    if os.path.exists(ORACLE) and all(os.path.exists(os.path.join(p, f))
                                      for p, f in ((CORPUS, "_SUCCESS"),
                                                   (BASE_INDEX, "meta.json"))):
        return None
    t0 = time.perf_counter()
    run_dir = os.path.join(WORK, "runs", f"inputs-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    maker = Bench(args, run_dir)
    maker.watch.start()
    try:
        maker.start_session()
        maker.make_inputs()
    finally:
        maker.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
    return time.perf_counter() - t0


def main() -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    inputs_s = make_inputs(args)
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    bench = Bench(args, run_dir)
    if inputs_s is not None:
        bench.info["inputs_made_s"] = inputs_s
    watchdog = threading.Timer(RUN_LIMIT_S, _overrun, args=(bench,))
    watchdog.daemon = True
    watchdog.start()
    bench.watch.start()
    try:
        bench.start_session()
        WORKLOADS[args.workload](bench)
        bench.stop()  # also flushes the event log per_layer reads
        e2e = end_to_end(bench)
        layers = per_layer(bench, e2e) if args.trace else None
        if args.trace:
            spans_path = os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json")
            bench.tracer.dump(spans_path)
            bench.info["spans_file"] = os.path.relpath(spans_path, ROOT)
        else:
            record_untraced(args.workload, e2e)
    finally:
        watchdog.cancel()
        bench.stop()  # a no-op after a clean run; ends Spark after an error
        shutil.rmtree(run_dir, ignore_errors=True)

    report(bench, e2e, layers)
    metrics = layers or e2e
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def report(b: Bench, e2e: dict, layers: dict | None) -> None:
    from spans import median, tail

    p = print
    p(f"perfbench workload={b.workload} seed={b.seed} seconds={b.seconds} "
      f"trace={int(b.tracer.enabled)} nproc={b.nproc} docs={N_DOCS}")
    p("  setup parts: " + ", ".join(
        f"{k}={v:.3f}s" for k, v in b.setup_parts.items()))
    for k, (v, u) in e2e.items():
        p(f"  e2e {k} = {v:.6g} {u}")
    p(f"  op tail = p{b.info['op_tail_percentile']:.1f} of "
      f"{b.info['op_samples']} samples")
    if b.workload == "serve-novel":
        qt, pct, n = tail(b.ops)
        p(f"  query_p50_s = {median(b.ops):.6g} s, query_p{pct:.0f}_s = "
          f"{qt:.6g} s (n={n}), qps = {e2e['ops_per_s'][0]:.6g} 1/s")
    else:
        qt, pct, n = tail(b.query_lat + b.probe_lat)
        p(f"  ingest_visible_s = {median(b.ops):.6g} s (n={len(b.ops)}); "
          f"probe/background query_p50_s = "
          f"{median(b.query_lat + b.probe_lat):.6g} s, "
          f"query_p{pct:.0f}_s = {qt:.6g} s (n={n})")
    p(f"  error_rate = {b.failed / max(1, b.attempted):.6g} "
      f"({b.failed}/{b.attempted})")
    for msg in b.failures:
        p(f"  FAIL {msg}")
    for k, v in b.info.items():
        p(f"  info {k} = {v}")
    if layers:
        for k, (v, u) in layers.items():
            p(f"  layer {k} = {v:.6g} {u}")
        for root, share in b.info["blocking_coverage"].items():
            p(f"  CHECK blocking-path spans cover {share:.1%} of {root} "
              f"wall time ({'ok' if share >= COVERAGE_MIN else 'FAILED'})")


def _overrun(bench: Bench) -> None:
    """Watchdog: past RUN_LIMIT_S, end every process of the run and exit
    without a result."""
    print(f"perfbench: run exceeded {RUN_LIMIT_S}s, aborting", file=sys.stderr)
    from spans import descendants

    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    os._exit(3)


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 - no result line on any failure
        traceback.print_exc()
        sys.exit(1)
