"""The benchmark's workloads and their seeded inputs.

Each workload function takes the run context (``run.Bench``) and fills in
``bench.ops`` (one latency sample per operation), ``bench.setup_parts``
and the per-layer accumulators; ``run.py`` turns those into metrics.
"""

from __future__ import annotations

import hashlib
import re
import threading
import time

import numpy as np
import pandas as pd

from clinical_trial_searchengine_spark.sources.corpus import (
    CORPUS_SCHEMA,
    ENGLISH_WORDS,
    HOT_TERMS,
    VOCAB_SIZE,
    generate_corpus_pandas,
    reference_queries,
)

# corpus tail terms are v0000..v{N_TAIL-1}
N_TAIL = VOCAB_SIZE - len(HOT_TERMS) - len(ENGLISH_WORDS)
SCORE_TOL = 1e-9


def build_args(n_docs: int) -> dict:
    """Settings of every index write: the base build and each ingest
    mutation, so a compaction rebuilds the base layout (left to its
    defaults, a rebuild would use the package's default shard size)."""
    return {"mode": "standard", "postings_codec": "pfor",
            "shard_size": n_docs // 8}


# -- seeded inputs -------------------------------------------------------------


def term_class(term: str, n_docs: int) -> str:
    """The class of an analyzed query term: h = a hot term (in nearly every
    doc), e = an English word (mid frequency), t = a long-tail term,
    u = a doc's unique token (one hit), n = no hit."""
    if term in HOT_TERMS:
        return "h"
    if term in ENGLISH_WORDS:
        return "e"
    if re.fullmatch(r"v\d{4}", term) and int(term[1:]) < N_TAIL:
        return "t"
    if (m := re.fullmatch(r"uid(\d+)doc", term)) and int(m.group(1)) < n_docs:
        return "u"
    return "n"


def reference_shapes(mode: str, n_docs: int) -> list[tuple[tuple, int]]:
    """The query mix of the recorded query set, ``reference_queries()``:
    per query its k and, per distinct analyzed term, (class, qtf)."""
    from clinical_trial_searchengine_spark.plans.query import analyze_query

    return [
        (tuple((term_class(t, n_docs), c)
               for t, c in analyze_query(q["text"], mode).items()), q["k"])
        for q in reference_queries()
    ]


def novel_texts(seed: int, mode: str, n_docs: int):
    """Endless seeded (text, k) pairs in blocks: each block is the
    reference query set (``reference_shapes``) in a seeded order, every
    query with fresh terms of the same classes, qtf and k.  A text is new
    as an analyzed term multiset (the plan cache keys on it; word order
    alone would not make a text new) whenever its shape still has an unused
    multiset: terms are first drawn distinct, then, if that keeps failing,
    with repeats allowed (which only the all-hot shapes ever need)."""
    shapes = reference_shapes(mode, n_docs)
    rng = np.random.default_rng([seed, 1])
    draw = {
        "h": lambda: HOT_TERMS[int(rng.integers(len(HOT_TERMS)))],
        "e": lambda: ENGLISH_WORDS[int(rng.integers(len(ENGLISH_WORDS)))],
        "t": lambda: f"v{int(rng.integers(N_TAIL)):04d}",
        "u": lambda: f"uid{int(rng.integers(n_docs))}doc",
        "n": lambda: f"nohit{int(rng.integers(1 << 40)):x}q",
    }
    seen: set = set()

    def fill(shape, distinct: bool):
        qtf: dict[str, int] = {}
        for cls, count in shape:
            term = draw[cls]()
            while distinct and term in qtf:
                term = draw[cls]()
            qtf[term] = qtf.get(term, 0) + count
        return qtf

    while True:
        for i in rng.permutation(len(shapes)):
            shape, k = shapes[int(i)]
            for attempt in range(100):
                qtf = fill(shape, distinct=attempt < 50)
                key = tuple(sorted(qtf.items()))
                if key not in seen:
                    break
            seen.add(key)
            terms = [t for t, c in qtf.items() for _ in range(c)]
            rng.shuffle(terms)
            yield " ".join(terms), k


def repeat_share(texts) -> float:
    """Share of issued texts whose term multiset was issued before."""
    seen, rep = set(), 0
    for t in texts:
        key = tuple(sorted(t.split()))
        rep += key in seen
        seen.add(key)
    return rep / len(texts) if texts else 0.0


def ingest_round(seed: int, rnd: int, base: pd.DataFrame, n: int):
    """One round of seeded changes: ``n`` new docs, ``n`` re-commits of
    base docs and ``n`` other base docs to delete.  New docs come from the
    corpus generator (the corpus's length and term distributions) under a
    repo of their own, each with a token no other doc has.  A re-commit
    gets a new commit id and keeps its content."""
    rng = np.random.default_rng([seed, 3, rnd])
    added = generate_corpus_pandas(n, seed=int(rng.integers(1 << 31)))
    added["repo"] = f"ingest/s{seed}r{rnd}"
    added["content"] = [
        c.rsplit(" ", 1)[0] + f" ing{seed}r{rnd}n{j}tok"
        for j, c in enumerate(added["content"])]
    added["content_sha256"] = [
        hashlib.sha256(c.encode()).hexdigest() for c in added["content"]]
    added["commit"] = [
        hashlib.sha256(f"{r}/{p}".encode()).hexdigest()[:40]
        for r, p in zip(added["repo"], added["path"])]
    picked = rng.choice(len(base), size=2 * n, replace=False)
    old = base.iloc[np.sort(picked[:n])]
    new = old.assign(commit=[
        hashlib.sha256(f"{c}/s{seed}r{rnd}".encode()).hexdigest()[:40]
        for c in old["commit"]])
    return added, old, new, base.iloc[np.sort(picked[n:])]


_UID = re.compile(r"file(\d+)\.")


def uid_tokens(docs: pd.DataFrame) -> list[str]:
    """The generator's per-doc unique token of each base doc."""
    return [f"uid{_UID.search(p).group(1)}doc" for p in docs["path"]]


def keys_of(docs: pd.DataFrame) -> set:
    return set(zip(docs["repo"], docs["path"], docs["commit"]))


def in_keys(docs: pd.DataFrame, other: pd.DataFrame,
            cols=("repo", "path")) -> np.ndarray:
    """Mask of the rows of ``docs`` whose ``cols`` values are in ``other``."""
    keys = set(zip(*(other[c] for c in cols)))
    return np.array([k in keys for k in zip(*(docs[c] for c in cols))],
                    dtype=bool)


# -- answer checks -------------------------------------------------------------


def same_answer(got, want) -> bool:
    """docIDs equal in order and scores within SCORE_TOL."""
    return len(got) == len(want) and all(
        int(g[0]) == int(w[0]) and abs(float(g[1]) - float(w[1])) <= SCORE_TOL
        for g, w in zip(got, want)
    )


# -- query calls (traced decomposition) ----------------------------------------


def traced_topk(bench, eng, text: str, k: int, rid: str, group: str):
    """``SearchEngine.search_topk_rows`` split at its layer boundaries —
    analysis, df lookup, plan (``search()``), job (``collect()``) — each
    in its own span.  Untraced it is the plain call."""
    tr = bench.tracer
    if not tr.enabled:
        return eng.search_topk_rows(text, k)
    from clinical_trial_searchengine_spark.plans.query import analyze_query

    with tr.span("query.request", rid=rid, group=group):
        with tr.span("query.analyze"):
            qtf = analyze_query(text, eng.handle().meta["mode"])
        with tr.span("query.df_lookup"):
            eng.handle().global_dfs(list(qtf))
        with tr.span("query.plan"):
            df = eng.search(text, k)
        bench.note_plan(df)
        with tr.span("query.job"):
            rows = df.collect()
        bench.count_queries(group, 1)
    return [(r["doc_id"], r["score"]) for r in rows]


def _instrument_engine(bench, eng) -> None:
    """Route the engine methods ``BatchingSearchServer`` calls through
    spans, so each batch job is timed and its Spark jobs carry a job group
    (the server's pool threads set none)."""
    tr = bench.tracer
    topk, many = eng.search_topk_rows, eng.search_many_rows
    seq = iter(range(1 << 30))
    lock = threading.Lock()

    def batch_id() -> str:
        with lock:
            return f"serving:b{next(seq)}"

    def dequeued(texts) -> list:
        """The batch's request ids; each waiting request gets a
        ``serving.queue`` span from its submit to now."""
        now = tr.now()
        rids = [bench.rid_of.get(t) for t in texts]
        for rid in rids:
            if (req := bench.request_span.get(rid)) is not None:
                tr.record("serving.queue", req["start"], now, req)
        return rids

    def search_topk_rows(text, k=10, **kw):
        g = batch_id()
        with tr.span("serving.batch_job", rid=g, group=g,
                     rids=dequeued([text]), size=1):
            return traced_topk(bench, eng_plain, text, k, g, g)

    def search_many_rows(query_texts, k=10, **kw):
        g = batch_id()
        with tr.span("serving.batch_job", rid=g, group=g,
                     rids=dequeued(query_texts.values()),
                     size=len(query_texts)):
            out = many(query_texts, k, **kw)
        bench.count_queries(g, len(query_texts))
        return out

    class _Plain:  # the engine as seen from inside a traced batch
        handle = staticmethod(eng.handle)
        search = staticmethod(eng.search)
        search_topk_rows = staticmethod(topk)

    eng_plain = _Plain()
    eng.search_topk_rows = search_topk_rows
    eng.search_many_rows = search_many_rows


# -- serve-novel -----------------------------------------------------------------

WARMUP_ROUNDS = 5  # untimed requests per client before the timed window


def serve_novel(bench) -> None:
    """``nproc`` closed-loop clients through ``SearchEngine.serving()``,
    every text new (see ``novel_texts``).  The clients first run
    ``WARMUP_ROUNDS`` requests each, in set-up: a fresh session's first
    batch starts the Python workers, and plan and job times keep falling
    after it, steeply over the first few seconds (README.md "Warm-up")."""
    eng = bench.setup_index()
    nclients = bench.nproc
    texts = enumerate(novel_texts(bench.seed, eng.handle().meta["mode"],
                                  len(bench.corpus_pdf())))
    if bench.tracer.enabled:
        _instrument_engine(bench, eng)
    server = eng.serving()
    results: list[tuple] = []  # (rid, text, k, t0, t1, rows | exc, timed)
    lock = threading.Lock()

    def closed_loop(timed: bool, more) -> None:
        """``nclients`` threads, each issuing its next request as soon as
        the last one is answered, while ``more()`` holds."""

        def client(cid: int) -> None:
            while True:
                with lock:
                    if not more():
                        return
                    i, (text, k) = next(texts)
                rid = f"{'r' if timed else 'w'}{i}"
                bench.rid_of[text] = rid
                a = time.perf_counter()
                with bench.tracer.span("serving.request", rid=rid,
                                       client=cid) as req:
                    bench.request_span[rid] = req
                    try:
                        out = server.search(text, k)
                    except Exception as e:  # noqa: BLE001 - counted
                        out = e
                b = time.perf_counter()
                with lock:
                    results.append((rid, text, k, a, b, out, timed))

        threads = [threading.Thread(target=client, args=(c,),
                                    name=f"perfbench-client{c}")
                   for c in range(nclients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()

    try:
        t0 = time.perf_counter()
        left = [WARMUP_ROUNDS * nclients]

        def warmup_left() -> bool:
            left[0] -= 1
            return left[0] >= 0

        closed_loop(False, warmup_left)
        bench.setup_parts["warmup_queries"] = time.perf_counter() - t0

        t_start = time.perf_counter()
        deadline = t_start + bench.seconds
        closed_loop(True, lambda: time.perf_counter() < deadline)
        t_end = time.perf_counter()
    finally:
        server.close()
    timed = [r for r in results if r[6]]
    bench.ops = [r[4] - r[3] for r in timed if not isinstance(r[5], Exception)]
    bench.ops_wall = t_end - t_start
    bench.ops_done = len(bench.ops)
    bench.layer["serving.batches_run"] = server.batches_run
    bench.layer["serving.queries_served"] = server.queries_served
    texts = [r[1] for r in timed]
    bench.info["repeat_share"] = repeat_share(texts)
    bench.info["distinct_texts"] = len({tuple(sorted(t.split())) for t in texts})
    bench.info["clients"] = nclients
    if bench.tracer.enabled:
        bench.profile_blocks(eng, [(r[1], r[2]) for r in timed[:3]])
    bench.check_against_oracle([(r[0], r[1], r[2], r[5]) for r in results])


# -- ingest ----------------------------------------------------------------------


def ingest(bench) -> None:
    """Rounds of three mutations, each chased by probe queries until the
    change is visible, then re-warmed and followed by seeded reference
    queries:

    1. ``upsert_documents`` of re-commits, under the default compaction
       policy, stacks a delta generation and tombstones the base versions
       it supersedes;
    2. ``delete_documents`` tombstones other base docs;
    3. ``add_documents`` of new docs, given the current-truth snapshot and
       ``max_generations`` set to the generations the index now holds, so
       the automatic compaction policy fires: a full rebuild, after which
       answers must equal those of an oracle over the live corpus.

    Probes and reference queries after steps 1 and 2 run over
    multi-generation fan-out and the tombstone mask.  An exception in any
    query counts as a failure."""
    from clinical_trial_searchengine_spark.plans import segments as seg

    # the first mutation replaces the index handle, so set-up skips warm()
    eng = bench.setup_index(warm=False)
    spark = bench.spark
    base_pdf = bench.corpus_pdf()
    background = [(q["text"], q["k"]) for q in reference_queries()]
    n_change = 16  # docs per mutation; see README.md "Ingest churn"
    layout = build_args(len(base_pdf))
    rng = np.random.default_rng([bench.seed, 4])
    live = base_pdf  # current truth, kept in step with the index
    generations, tombstones = [1], [0]
    exact: list[tuple] = []  # (live corpus, answers) after each compaction
    mut = 0

    def keys(rows) -> set:
        return {(r["repo"], r["path"], r["commit"]) for r in rows}

    def mutate(kind, call, checks, n_background):
        nonlocal mut
        rid = f"m{mut}"
        mut += 1
        a = time.perf_counter()
        with bench.tracer.span("ingest.visible", rid=rid, kind=kind):
            with bench.tracer.span(f"ingest.{kind}", group=f"ingest:{rid}"):
                c0 = time.perf_counter()
                out = call()
                dt = time.perf_counter() - c0
            bench.layer.setdefault(f"ingest.{kind}_s", []).append(dt)
            bench.build_wall += dt
            with bench.tracer.span("ingest.rewarm", group=f"warm:{rid}"):
                c0 = time.perf_counter()
                eng.warm()
                bench.layer.setdefault("ingest.rewarm_s", []).append(
                    time.perf_counter() - c0)
            for attempt in range(3):
                ok = True
                for j, (text, k, check) in enumerate(checks):
                    p0 = time.perf_counter()
                    try:
                        ok = check(traced_probe(
                            bench, eng, text, k, f"{rid}p{attempt}{j}")) and ok
                    except Exception as e:  # noqa: BLE001 - a failed probe
                        bench.fail(f"{rid} probe {text!r}: {e!r}")
                        ok = False
                    bench.probe_lat.append(time.perf_counter() - p0)
                if ok:
                    break
        bench.ops.append(time.perf_counter() - a)
        bench.info.setdefault("visible_s", {})[rid] = (kind, bench.ops[-1])
        bench.attempted += 1
        if not ok:
            bench.fail(f"{kind} (mutation {rid}) not visible after 3 probes")
        generations.append(len(seg.read_generations(eng.index_dir) or [0]))
        tombstones.append(len(seg.read_tombstones(eng.index_dir)))
        answers = []
        for j in rng.choice(len(background), size=n_background, replace=False):
            text, k = background[int(j)]
            try:
                rows = bench.run_query(
                    eng, text, k, f"{rid}b{j}", f"query:{rid}b{j}")
            except Exception as e:  # noqa: BLE001 - counted as a failure
                rows = e
            answers.append((f"{rid}b{j}", text, k, rows))
        return out, answers

    def count_errors(answers) -> None:
        """Answers over an uncompacted index: only exceptions are wrong
        (scores there follow Lucene-parity stale statistics)."""
        for rid, text, _k, rows in answers:
            bench.attempted += 1
            if isinstance(rows, Exception):
                bench.fail(f"{rid} {text!r}: {rows!r}")

    rnd = 0
    deadline = time.perf_counter() + bench.seconds
    t_start = time.perf_counter()
    while True:
        # re-commits and deletes pick from the base docs still live
        added, old, new, gone = ingest_round(
            bench.seed, rnd, base_pdf[in_keys(base_pdf, live)], n_change)
        new_keys = keys_of(new)
        new_df = spark.createDataFrame(new, CORPUS_SCHEMA)
        out, answers = mutate(
            "upsert", lambda: eng.upsert_documents(new_df, **layout),
            [(" ".join(uid_tokens(old)), n_change,
              lambda rows: keys(rows) == new_keys)],
            n_background=1)
        if out.get("compacted") or not out.get("tombstones"):
            bench.fail(f"round {rnd}: the upsert did not take the delta "
                       f"and tombstone path")
        count_errors(answers)

        gone_df = spark.createDataFrame(
            list(zip(gone.repo, gone.path)), "repo string, path string")
        count_errors(mutate(
            "delete", lambda: eng.delete_documents(gone_df),
            [(" ".join(uid_tokens(gone)), n_change, lambda rows: not rows)],
            n_background=1)[1])

        live = pd.concat([live[~in_keys(live, pd.concat([new, gone]))],
                          new, added], ignore_index=True)
        # current truth as a service reads it: the stored base corpus
        # without the docs changed since, plus the changed docs
        key3 = ("repo", "path", "commit")
        gone_keys = base_pdf[~in_keys(base_pdf, live, key3)]
        snapshot = bench.corpus_df.join(
            spark.createDataFrame(list(zip(gone_keys.repo, gone_keys.path)),
                                  "repo string, path string"),
            ["repo", "path"], "left_anti",
        ).unionByName(spark.createDataFrame(
            live[~in_keys(live, base_pdf, key3)], CORPUS_SCHEMA))
        added_keys = keys_of(added)
        added_text = " ".join(c.rsplit(" ", 1)[1] for c in added["content"])
        out, answers = mutate(
            "add",
            lambda: eng.add_documents(
                snapshot, max_generations=generations[-1], **layout),
            [(added_text, n_change, lambda rows: keys(rows) == added_keys)],
            n_background=3)
        if out.get("compacted"):
            bench.build_meta = out
            bench.layer["ingest.compactions"] = (
                bench.layer.get("ingest.compactions", 0) + 1)
        else:
            bench.fail(f"round {rnd}: the compaction policy did not fire")
        exact.append((live, answers))
        rnd += 1
        if time.perf_counter() >= deadline:
            break
    bench.ops_wall = time.perf_counter() - t_start
    bench.ops_done = len(bench.ops)
    bench.layer["segments.generations"] = max(generations)
    bench.layer["segments.tombstones"] = max(tombstones)
    bench.info["rounds"] = rnd
    bench.info["mutations"] = mut
    bench.info["repeat_share"] = repeat_share(bench.issued_texts)
    if bench.tracer.enabled:
        bench.profile_blocks(eng, background[:3])
    for corpus, answers in exact:
        bench.check_against_oracle(answers, corpus)


def traced_probe(bench, eng, text: str, k: int, rid: str) -> list:
    """A visibility probe: top-k with the doc keys (``include_meta``)."""
    tr = bench.tracer
    bench.issued_texts.append(text)
    with tr.span("query.request", rid=rid, group=f"query:{rid}"):
        with tr.span("query.plan"):
            df = eng.search(text, k, include_meta=True)
        with tr.span("query.job"):
            rows = df.collect()
    bench.count_queries(f"query:{rid}", 1)
    return rows


WORKLOADS = {"serve-novel": serve_novel, "ingest": ingest}
