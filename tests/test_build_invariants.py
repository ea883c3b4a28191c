"""Build invariants: sha256 check, deterministic doc_id assignment,
salting equivalence, segment schemas, resume (FIXTURES.md §4-6)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from clinical_trial_searchengine_spark.engine import SearchEngine
from clinical_trial_searchengine_spark.plans import segments as seg
from clinical_trial_searchengine_spark.plans.build import assign_doc_ids


def test_sha256_invariant_rejects_corruption(spark, small_corpus_pdf, tmp_path):
    bad = small_corpus_pdf.copy()
    bad.loc[3, "content"] = bad.loc[3, "content"] + " tampered"
    df = spark.createDataFrame(bad)
    eng = SearchEngine(spark, str(tmp_path / "badidx"))
    with pytest.raises(ValueError, match="sha256 invariant"):
        eng.build(df, shard_size=64)
    # failure is recorded in lineage
    m = seg.manifest_read(spark, eng.index_dir)
    rows = m.where(
        (F.col("stage") == "verify_sha") & (F.col("status") == "failed")
    ).collect()
    assert rows and rows[0]["rows_in"] == 1 and rows[0]["sha_ok"] is False


def test_doc_id_assignment_deterministic(spark, small_corpus_df):
    a = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in assign_doc_ids(small_corpus_df, 4).select(
            "repo", "path", "commit", "doc_id"
        ).collect()
    }
    # different partition count -> identical ids (global rank is
    # boundary-independent; SURVEY.md §7 hard part (b))
    b = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in assign_doc_ids(small_corpus_df.repartition(7), 2).select(
            "repo", "path", "commit", "doc_id"
        ).collect()
    }
    assert a == b
    ids = sorted(a.values())
    assert ids == list(range(len(ids)))  # dense 0..N-1
    keys_by_id = sorted(a, key=a.get)
    assert keys_by_id == sorted(keys_by_id)  # rank order == key order


def test_salting_equivalence(spark, small_corpus_df, tmp_path):
    """Salted build == unsalted build: identical postings bytes per
    (shard, term) (FIXTURES.md §6)."""
    d1, d2 = str(tmp_path / "salted"), str(tmp_path / "unsalted")
    SearchEngine(spark, d1).build(
        small_corpus_df, shard_size=64, hot_df_threshold=10, max_salts=8
    )
    SearchEngine(spark, d2).build(
        small_corpus_df, shard_size=64, hot_df_threshold=10**9
    )
    cols = ["shard", "term", "n_blocks", "postings"]
    p1 = {
        (r["shard"], r["term"]): (r["n_blocks"], bytes(r["postings"]))
        for r in spark.read.parquet(seg.path_of(d1, seg.POSTINGS)).select(cols).collect()
    }
    p2 = {
        (r["shard"], r["term"]): (r["n_blocks"], bytes(r["postings"]))
        for r in spark.read.parquet(seg.path_of(d2, seg.POSTINGS)).select(cols).collect()
    }
    assert p1 == p2
    # exact global term stats identical regardless of salting
    ts1 = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(seg.path_of(d1, seg.TERM_STATS)).collect()
    }
    ts2 = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(seg.path_of(d2, seg.TERM_STATS)).collect()
    }
    assert ts1 == ts2
    # salting actually happened: the fused packed path decides salts
    # INSIDE the pack kernel from local density (round 6) — assert the
    # pipeline marker, then drive the kernel directly and check it
    # assigns salt > 0 groups for this corpus/threshold
    metrics = spark.read.parquet(seg.path_of(d1, seg.METRICS))
    assert metrics.where(F.col("metric") == "in_kernel").count() >= 1
    import pyarrow as pa

    from clinical_trial_searchengine_spark.plans.build import (
        make_tokenize_pack_kernel_arrow,
    )

    pdf = small_corpus_df.select("content").toPandas()
    batch = pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array(range(len(pdf)), pa.int64()),
            "content": pa.array(pdf["content"].tolist(), pa.string()),
        }
    )
    kern = make_tokenize_pack_kernel_arrow(
        "standard", 64, 8, len(pdf), 10, 8
    )
    out = list(kern(iter([batch])))
    salts = [
        s
        for b in out
        for s in b.column(b.schema.names.index("salt")).to_pylist()
    ]
    assert salts and max(salts) > 0
    shutil.rmtree(d1)
    shutil.rmtree(d2)


def test_segment_schemas(built_index, spark):
    """FIXTURES.md §5 schema assertions (format v2: postings carry no
    df/cf; the term_stats dictionary is the idf source)."""
    d = built_index.index_dir
    postings = spark.read.parquet(seg.path_of(d, seg.POSTINGS))
    for c in ["term", "n_blocks", "postings", "shard"]:
        assert c in postings.columns, c
    assert "df" not in postings.columns and "cf" not in postings.columns
    dm = spark.read.parquet(seg.path_of(d, seg.DOC_META))
    assert {"doc_id", "repo", "path", "commit", "lang", "doc_len",
            "content_sha256"} <= set(dm.columns)
    stats = spark.read.parquet(seg.path_of(d, seg.STATS)).collect()
    assert len(stats) == 1
    s = stats[0]
    assert s["num_docs"] == 200 and s["total_terms"] > 0
    ts = spark.read.parquet(seg.path_of(d, seg.TERM_STATS))
    assert {"term", "df", "cf"} <= set(ts.columns)


def test_global_df_spans_shards(built_index, spark):
    """term_stats df is the GLOBAL df (B5): it equals the sum of decoded
    posting lengths across every shard, never a per-shard count."""
    from clinical_trial_searchengine_spark.functions.codec import decode_postings

    postings = spark.read.parquet(
        seg.path_of(built_index.index_dir, seg.POSTINGS)
    )
    rows = postings.where(F.col("term") == "def").collect()
    assert len(rows) > 1  # hot term present in several shards
    local_total = sum(
        len(decode_postings(bytes(r["postings"]))[0]) for r in rows
    )
    ts_df = (
        spark.read.parquet(
            seg.path_of(built_index.index_dir, seg.TERM_STATS)
        )
        .where(F.col("term") == "def")
        .collect()[0]["df"]
    )
    assert ts_df == local_total > max(
        len(decode_postings(bytes(r["postings"]))[0]) for r in rows
    )


def test_resume_skips_done_and_is_byte_identical(
    spark, small_corpus_df, tmp_path
):
    """Kill/resume (FIXTURES.md §4): build once; delete one postings group +
    its manifest 'done' rows; rebuild; segments byte-identical to an
    uninterrupted build."""
    d1 = str(tmp_path / "full")
    d2 = str(tmp_path / "resumed")
    kwargs = dict(shard_size=48, hot_df_threshold=40, n_resume_groups=3)
    SearchEngine(spark, d1).build(small_corpus_df, **kwargs)
    SearchEngine(spark, d2).build(small_corpus_df, **kwargs)

    # simulate a crash: group 1 postings never finished in d2
    shutil.rmtree(seg.path_of(d2, seg.POSTINGS) + "/group=1")
    # rewrite manifest without the ('postings', 1) done row
    m = spark.read.parquet(seg.path_of(d2, seg.MANIFEST))
    kept = m.where(
        ~((F.col("stage") == "postings") & (F.col("partition_id") == 1))
    ).collect()
    shutil.rmtree(seg.path_of(d2, seg.MANIFEST))
    spark.createDataFrame(kept, m.schema).coalesce(1).write.parquet(
        seg.path_of(d2, seg.MANIFEST)
    )
    done_before = seg.manifest_done(spark, d2)
    assert ("postings", 1) not in done_before
    assert ("postings", 0) in done_before
    ts_before = {
        (r["stage"], r["partition_id"]): r["finished_at"]
        for r in spark.read.parquet(seg.path_of(d2, seg.MANIFEST)).collect()
    }

    SearchEngine(spark, d2).build(small_corpus_df, **kwargs)  # resume

    def snapshot(d):
        return {
            (r["shard"], r["term"]): bytes(r["postings"])
            for r in spark.read.parquet(seg.path_of(d, seg.POSTINGS)).collect()
        }

    assert snapshot(d1) == snapshot(d2)
    # resumed build re-ran ONLY group 1: done stages keep their original
    # finished_at (they were skipped), group 1 got a fresh row
    ts_after = {
        (r["stage"], r["partition_id"]): r["finished_at"]
        for r in spark.read.parquet(seg.path_of(d2, seg.MANIFEST)).collect()
    }
    for key, t in ts_before.items():
        assert ts_after[key] == t, f"{key} was re-run on resume"
    assert ts_after[("postings", 1)] > max(ts_before.values())


def test_norms_cover_all_docs(built_index, spark):
    import numpy as np

    norms = spark.read.parquet(
        seg.path_of(built_index.index_dir, seg.NORMS)
    ).collect()
    total = sum(r["n"] for r in norms)
    assert total == 200
    for r in norms:
        arr = np.frombuffer(r["doc_lens"], dtype="<i4")
        assert len(arr) == r["n"]
        assert (arr >= 0).all()


def test_verify_sha_resume_does_not_trust_placeholder(
    spark, small_corpus_pdf, tmp_path
):
    """doc_meta persisted by a verify_sha=False run holds sha_ok=lit(True)
    placeholders; a later resumed verify_sha=True run must RECOMPUTE the
    hashes from the corpus (and fail on corruption) instead of reading the
    placeholder column and silently passing."""
    bad = small_corpus_pdf.copy()
    bad.loc[3, "content"] = bad.loc[3, "content"] + " tampered"
    d = str(tmp_path / "placeholder")
    # pass 1: invariant checking disabled -> build succeeds on corrupt input
    SearchEngine(spark, d).build(
        spark.createDataFrame(bad), shard_size=64, verify_sha=False
    )
    # pass 2: resume with verification ON -> must detect the corruption
    with pytest.raises(ValueError, match="sha256 invariant"):
        SearchEngine(spark, d).build(
            spark.createDataFrame(bad), shard_size=64, verify_sha=True
        )


def test_sha_failure_then_fixed_corpus_resumes_clean(
    spark, small_corpus_pdf, tmp_path
):
    """A failed sha check must not wedge the index dir: stages computed
    from the corrupt corpus are un-marked, so rebuilding with the FIXED
    corpus in the same dir recomputes them and succeeds."""
    import pytest as _pytest

    bad = small_corpus_pdf.copy()
    bad.loc[3, "content"] = bad.loc[3, "content"] + " tampered"
    d = str(tmp_path / "wedge")
    eng = SearchEngine(spark, d)
    with _pytest.raises(ValueError, match="sha256 invariant"):
        eng.build(spark.createDataFrame(bad), shard_size=64)
    # rerun with the corrected corpus in the SAME dir
    good = spark.createDataFrame(small_corpus_pdf)
    meta = SearchEngine(spark, d).build(good, shard_size=64)
    assert meta["num_docs"] == len(small_corpus_pdf)
    dm = spark.read.parquet(seg.path_of(d, seg.DOC_META))
    assert dm.where(~F.col("sha_ok")).count() == 0


@pytest.mark.parametrize(
    "mode,hot_df_threshold,max_records_per_batch",
    [
        ("standard", 40, None),
        ("standard", 10**9, None),
        ("porter", 40, None),
        ("porter", 10**9, None),
        ("standard", 40, 7),
    ],
    ids=["standard-salted", "standard-unsalted", "porter-salted",
         "porter-unsalted", "standard-salted-batch7"],
)
def test_build_matches_oracle(
    spark, small_corpus_df, small_corpus_pdf, tmp_path,
    mode, hot_df_threshold, max_records_per_batch,
):
    """Every build artifact equals the single-node oracle: postings bytes,
    n_postings/cf_local and n_blocks per (shard, term) == that list
    encoded on its own; term_stats df/cf; doc_meta doc_len and norms ==
    the oracle's doc lengths.  Covers both analyzer modes, salted and
    unsalted, and Arrow batches of 7 rows (every pack-kernel batch its own
    packed flush, and nearly every term salted)."""
    import numpy as np

    from tests.oracle import (
        BM25Oracle,
        expected_postings,
        expected_term_stats,
    )

    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if max_records_per_batch is not None:
        spark.conf.set(conf, str(max_records_per_batch))
    d = str(tmp_path / "idx")
    try:
        SearchEngine(spark, d).build(
            small_corpus_df,
            mode=mode,
            shard_size=48,
            hot_df_threshold=hot_df_threshold,
            max_salts=4,
            n_resume_groups=2,
            norm_chunk=16,
        )
    finally:
        spark.conf.set(conf, old)
    oracle = BM25Oracle(small_corpus_pdf, mode=mode)

    rows = (
        spark.read.parquet(seg.path_of(d, seg.POSTINGS))
        .select("shard", "term", "n_postings", "cf_local", "n_blocks",
                "postings")
        .collect()
    )
    got = {
        (r["shard"], r["term"]): (
            r["n_postings"], r["cf_local"], r["n_blocks"], bytes(r["postings"])
        )
        for r in rows
    }
    assert len(got) == len(rows)  # one row per (shard, term)
    assert got == expected_postings(oracle, 48)

    ts = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(seg.path_of(d, seg.TERM_STATS)).collect()
    }
    assert ts == expected_term_stats(oracle)

    exp_len = [int(x) for x in oracle.doc_len]
    dm = {
        r["doc_id"]: r["doc_len"]
        for r in spark.read.parquet(seg.path_of(d, seg.DOC_META))
        .select("doc_id", "doc_len").collect()
    }
    assert dm == dict(enumerate(exp_len))
    norms = sorted(
        spark.read.parquet(seg.path_of(d, seg.NORMS)).collect(),
        key=lambda r: r["first_doc_id"],
    )
    flat = []
    for r in norms:
        assert r["first_doc_id"] == len(flat)
        flat.extend(np.frombuffer(r["doc_lens"], dtype="<i4").tolist())
    assert flat == exp_len
    shutil.rmtree(d)


def test_doc_len_ignores_literal_control_chars(spark):
    """The doc_meta doc_len column must equal the tokenizer's count in
    both analyzer modes, even when content contains a literal \\x01 (the
    marker char) — it is a separator to the analyzer, not a token."""
    from clinical_trial_searchengine_spark.functions.analysis import (
        analyze_batch,
    )
    from clinical_trial_searchengine_spark.plans.build import (
        _make_doc_len_col,
    )
    import pandas as pd

    texts = [
        "foo\x01bar",              # marker inside: 2 tokens, not 3
        "\x01\x01",                # only markers: 0 tokens
        "plain text here",         # control
        "a\x01b c\x01\x01d",       # interleaved
        "",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "content string")
    for mode in ("standard", "porter"):
        _, expected = analyze_batch(pd.Series(texts), mode)
        got = [r[0] for r in df.select(_make_doc_len_col(mode)).collect()]
        assert got == list(expected), mode


def test_assign_doc_ids_null_keys_and_duplicate_guard(spark):
    """NULL key columns must not silently drop rows (null-safe mapping
    join), and duplicate (repo,path,commit) keys must raise instead of
    m x n-exploding the mapping join."""
    rows = [
        ("r1", "a.py", "c1", "py", "alpha"),
        ("r1", "b.py", None, "py", "bravo"),   # NULL commit
        (None, "c.py", "c2", "py", "charlie"),  # NULL repo
        ("r2", "d.py", "c3", "py", "delta"),
    ]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
        "content string"
    )
    out = assign_doc_ids(df).select("doc_id", "content").collect()
    assert len(out) == 4  # nothing dropped
    assert sorted(r["doc_id"] for r in out) == [0, 1, 2, 3]  # dense

    dup = spark.createDataFrame(
        [rows[0], rows[0], rows[3]],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    with pytest.raises(ValueError, match="duplicate"):
        assign_doc_ids(dup)
