"""Text pipeline tests: DuckDB differentials + reference-parity goldens.

The golden corpus/expectations come from FIXTURES.md §1 (hand-checkable 3-doc
corpus mirroring the reference's input shape, ProcessData.java:387-401).
"""

from __future__ import annotations

import pytest

from hadoop_web_browsing_logs_spark.functions.porter import porter_stem
from hadoop_web_browsing_logs_spark.operators import text as text_ops
from hadoop_web_browsing_logs_spark.plans.registry import all_queries
from hadoop_web_browsing_logs_spark.sources.writers import reference_vector_string

from .conftest import assert_query_matches_oracle


def _oracle_names():
    return sorted(n for n, q in all_queries().items() if q.oracle is not None and q.category == "text")


@pytest.mark.parametrize("name", _oracle_names())
def test_matches_duckdb_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


# --- Porter stemmer goldens: now live with the engine (functions/porter.py,
#     PORTER_GOLDENS) so the pytest golden test and the driver-hashable
#     q_text_porter_gate replay the SAME vectors ---

from hadoop_web_browsing_logs_spark.functions.porter import PORTER_GOLDENS as GOLDEN_STEMS


def test_porter_golden_vectors():
    bad = {w: (porter_stem(w), e) for w, e in GOLDEN_STEMS.items() if porter_stem(w) != e}
    assert not bad, f"stemmer mismatches: {bad}"


def test_porter_deterministic_and_total():
    # classic Porter is NOT idempotent (agreed→agre→agr) — determinism and
    # totality over odd inputs are the useful properties to pin.
    for w in ["", "a", "ab", "''", "123", "x" * 50, *GOLDEN_STEMS]:
        assert porter_stem(w) == porter_stem(w)
        assert isinstance(porter_stem(w), str)


# --- Golden 3-doc corpus (FIXTURES.md §1): full Job-1 parity ---

CORPUS = [
    (1, "the cats are meeting, and agreed to play."),
    (2, "a cat was milling; ponies agreed."),
    (3, "meetings about caresses and ties."),
]
GOLDEN_STOPWORDS = ("the", "and", "a", "to", "was", "are", "about")


@pytest.fixture(scope="module")
def golden_index(spark):
    docs = spark.createDataFrame(CORPUS, ["doc_id", "text"])
    return text_ops.inverted_index(spark, docs, stem=True, stopwords=GOLDEN_STOPWORDS)


def test_golden_inverted_index(golden_index):
    got = {r.term: r.postings for r in golden_index.collect()}
    expected = {
        "cat": [1, 2],      # cats/cat → cat
        "meet": [1, 3],     # meeting/meetings → meet
        "agre": [1, 2],     # agreed → agre (classic Porter)
        "plai": [1],        # play → plai
        "mill": [2],        # milling → mill
        "poni": [2],        # ponies → poni
        "caress": [3],      # caresses → caress
        "ti": [3],          # ties → ti
    }
    assert got == expected


def test_golden_incidence_vectors(golden_index):
    dense = text_ops.densify_incidence(golden_index, n_docs=3, one_based=True)
    got = {r.term: r.vec for r in dense.collect()}
    assert got["cat"] == [1, 1, 0]
    assert got["meet"] == [1, 0, 1]
    assert got["ti"] == [0, 0, 1]


def test_reference_compat_serialization(spark, golden_index):
    """term\\t[1,0,1,] with trailing comma — ProcessData.java:462-469 (Q2)."""
    from pyspark.sql import functions as F

    dense = text_ops.densify_incidence(golden_index, n_docs=3, one_based=True)
    line = dense.filter(F.col("term") == "cat").select(
        F.concat_ws("\t", F.col("term"), reference_vector_string(F.col("vec"))).alias("line")
    ).collect()[0].line
    assert line == "cat\t[1,1,0,]"


def test_tokenize_order_strip_then_filter_then_stem(spark):
    """SURVEY Q3: 'meeting,' must strip punctuation BEFORE the stopword check
    and stem AFTER it — 'are' (stopword) never reaches the stemmer."""
    docs = spark.createDataFrame([(1, "the cats, are meeting!")], ["doc_id", "text"])
    toks = text_ops.remove_stopwords(text_ops.tokenize(docs), spark, GOLDEN_STOPWORDS)
    terms = sorted(r.term for r in text_ops.stem_terms(toks).collect())
    assert terms == ["cat", "meet"]


def test_refjob_end_to_end(spark, tmp_path):
    """The drop-in reference workflow (ProcessData.main's 4-arg contract):
    corpus dir + stopwords file + centers file → Job1 + Job2 outputs in the
    reference's text formats."""
    import glob

    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "1.txt").write_text("the cats are meeting,\nand agreed to play.")
    (docs / "2.txt").write_text("a cat was milling; ponies agreed.")
    (docs / "3.txt").write_text("meetings about caresses and ties.")
    (tmp_path / "stopwords.txt").write_text("\n".join(GOLDEN_STOPWORDS))
    (tmp_path / "centers.txt").write_text("[1,0,0,]\n[0,1,0,]\n[0,0,1,]\n")

    out = tmp_path / "out"
    run_reference_jobs(
        spark, str(docs), str(out), str(tmp_path / "stopwords.txt"), str(tmp_path / "centers.txt")
    )
    job1 = sorted(
        line for f in glob.glob(f"{out}/inverted_index/part-*") for line in open(f).read().splitlines()
    )
    assert "cat\t[1,1,0,]" in job1
    assert "meet\t[1,0,1,]" in job1
    assert len(job1) == 8
    job2 = sorted(
        line for f in glob.glob(f"{out}/kmeans/part-*") for line in open(f).read().splitlines()
    )
    assert job2 == ["1\tagre cat meet plai", "2\tmill poni", "3\tcaress ti"]


def _refjob_files(tmp_path, docs: dict[str, str], stopwords, centers: str):
    """Write the reference's four inputs under ``tmp_path``; return them."""
    d = tmp_path / "docs"
    d.mkdir()
    for name, text in docs.items():
        (d / name).write_text(text)
    (tmp_path / "stopwords.txt").write_text("\n".join(stopwords))
    (tmp_path / "centers.txt").write_text(centers)
    return str(d), str(tmp_path / "out"), str(tmp_path / "stopwords.txt"), str(tmp_path / "centers.txt")


def _refjob_outputs(out: str) -> tuple[list[str], list[str]]:
    import glob

    def lines(sub):
        return [ln for f in sorted(glob.glob(f"{out}/{sub}/part-*")) for ln in open(f).read().splitlines()]

    return lines("inverted_index"), lines("kmeans")


def test_refjob_counts_empty_documents(spark, tmp_path):
    """A zero-byte document yields no row from the wholetext scan but is
    still a document: the vectors keep its slot and the clusters see it."""
    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    args = _refjob_files(
        tmp_path,
        {"1.txt": "the cats are meeting,\nand agreed to play.", "2.txt": "a cat was milling; ponies agreed.", "3.txt": ""},
        ("the", "are", "and", "to", "a", "was", "agreed", "play", "ponies"),
        "[1,0,0,]\n[0,1,0,]\n[0,0,1,]\n",
    )
    clusters = run_reference_jobs(spark, *args)
    job1, job2 = _refjob_outputs(args[1])
    assert job1 == ["cat\t[1,1,0,]", "meet\t[1,0,0,]", "mill\t[0,1,0,]"]
    assert job2 == ["1\tcat meet", "2\tmill"]
    assert [tuple(r) for r in clusters.collect()] == [(1, "cat meet"), (2, "mill")]


@pytest.mark.parametrize(
    "centers, message",
    [
        ("[1,0,0,]\n[0,1,]\n", "line 2: 2 slots, expected one per document \\(3\\)"),
        ("[1,0,0,]\n\n[1,2,0,]\n", "line 3: value '2' is not 0 or 1"),
        ("[0,0,0,]\n[0,1,0,]\n", "line 1: all-zero center"),
    ],
)
def test_refjob_rejects_malformed_centers(spark, tmp_path, centers, message):
    """A short center used to pad with nulls (null distance sorts first, so
    it won every term); an all-zero one divides by zero. Both now raise,
    naming the centers file's line, before any output is written."""
    import os

    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    args = _refjob_files(tmp_path, {"1.txt": "cat", "2.txt": "dog", "3.txt": "cat dog"}, ("the",), centers)
    with pytest.raises(ValueError, match=message):
        run_reference_jobs(spark, *args)
    assert not os.path.exists(args[1])


def _python_refjob(docs: dict[int, str], stopwords, centers: list[list[int]]):
    """Job 1 + Job 2 without Spark: ``docs`` by doc id 1..N, dense centers."""
    import math
    import re
    import unicodedata

    postings: dict[str, set[int]] = {}
    for doc_id, text in docs.items():
        for tok in re.split(r"\s+", text.lower().strip()):
            tok = "".join(c for c in tok if not unicodedata.category(c).startswith("P"))
            if tok and tok not in stopwords:
                postings.setdefault(porter_stem(tok), set()).add(doc_id)
    job1, clusters = [], {}
    for term in sorted(postings):
        p = postings[term]
        job1.append(term + "\t[" + "".join("1," if i in p else "0," for i in range(1, len(docs) + 1)) + "]")
        dists = [
            (1 - sum(1 for i in p if c[i - 1]) / (math.sqrt(float(len(p))) * math.sqrt(float(sum(c)))), cid)
            for cid, c in enumerate(centers, start=1)
        ]
        clusters.setdefault(min(dists)[1], []).append(term)
    job2 = [f"{k}\t" + " ".join(sorted(clusters[cid])) for k, cid in enumerate(sorted(clusters), start=1)]
    return job1, job2


def test_refjob_matches_pure_python_reference(spark, tmp_path, monkeypatch):
    """Both outputs line for line against a pure-Python Job 1/Job 2 on 30
    seeded documents with punctuation, stopwords and a non-numeric filename
    (skipped). Centers 1 and 2 are identical and center 3 is their
    complement, so distance ties must go to the lower center id. Job 2 runs
    through the shared sparse nearest-center operator."""
    import random

    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs

    rng = random.Random(7)
    vocab = ["cats", "meeting", "agreed", "ponies", "milling", "caresses", "ties", "play", "running", "logs"]
    stop = ("the", "and", "a", "to", "was", "are", "about")
    punct = ["", ",", ".", ";", "!", "'s", "?"]
    n = 30
    docs = {
        i: " ".join(rng.choice(vocab + list(stop)) + rng.choice(punct) for _ in range(rng.randint(3, 9)))
        for i in range(1, n + 1)
    }
    half = n // 2
    centers = [
        [1] * half + [0] * half,
        [1] * half + [0] * half,
        [0] * half + [1] * half,
        [rng.randint(0, 1) for _ in range(n - 1)] + [1],
    ]
    files = {f"{i}.txt": text for i, text in docs.items()}
    files["README.txt"] = "not a document: zebra"
    args = _refjob_files(tmp_path, files, stop, "".join("[" + "".join(f"{v}," for v in c) + "]\n" for c in centers))

    calls = []
    shared = text_ops.nearest_center
    monkeypatch.setattr(text_ops, "nearest_center", lambda *a: calls.append(1) or shared(*a))
    run_reference_jobs(spark, *args)
    assert calls == [1]
    assert _refjob_outputs(args[1]) == _python_refjob(docs, set(stop), centers)


def test_refjob_job_ceiling_and_no_storage_left(spark, tmp_path):
    """One corpus scan feeds both jobs off a persisted index: the run stays
    under a Spark-job ceiling and unpersists the index before returning."""
    from hadoop_web_browsing_logs_spark.refcli import run_reference_jobs
    from hadoop_web_browsing_logs_spark.session import release_caches

    args = _refjob_files(
        tmp_path,
        {"1.txt": "the cats are meeting", "2.txt": "a cat was milling", "3.txt": "meetings and ties"},
        GOLDEN_STOPWORDS,
        "[1,0,0,]\n[0,1,1,]\n",
    )
    sc = spark.sparkContext
    release_caches(spark)
    sc.setJobGroup("refjob-ceiling", "run_reference_jobs job count")
    try:
        run_reference_jobs(spark, *args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("refjob-ceiling")
    # 12 at local[4] and local[8]; rebuilding the index per output ran 23
    assert 0 < len(jobs) <= 14, sorted(jobs)
    assert len(sc._jsc.getPersistentRDDs()) == 0


def test_ref_pipeline_unstemmed_oracle_through_shared_nearest_center(spark, duck, monkeypatch):
    """The flagship's sparse assignment and refcli's Job 2 are one operator;
    q_ref_pipeline_unstemmed still matches its DuckDB oracle through it."""
    calls = []
    shared = text_ops.nearest_center
    monkeypatch.setattr(text_ops, "nearest_center", lambda *a: calls.append(1) or shared(*a))
    assert_query_matches_oracle(spark, duck, "q_ref_pipeline_unstemmed")
    assert calls == [1]


# --- BM25 (round 9): scalar-reference golden + ranking properties ---------


def _bm25_reference(corpus: dict[int, str], terms) -> dict[int, float]:
    """Scalar BM25 with the engine's exact micro-BIGINT quantization."""
    import math

    toks = {d: txt.split() for d, txt in corpus.items()}
    n_docs = float(len(corpus))
    tot = float(sum(len(v) for v in toks.values()))
    df = {q: sum(1 for v in toks.values() if q in v) for q in terms}
    out = {}
    for d, v in toks.items():
        micro = 0
        for q in terms:
            tf = v.count(q)
            if tf == 0 or df[q] == 0:
                continue
            idf = math.log(1 + (n_docs - df[q] + 0.5) / (df[q] + 0.5))
            score = idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * len(v) / (tot / n_docs)))
            micro += round(score * 1000000)
        if micro:
            out[d] = micro / 1000000
    return out


def test_bm25_golden_matches_scalar_reference(spark):
    corpus = {
        1: "spark spark hash",
        2: "spark table",
        3: "table row scan",
        4: "hash merge window merge merge spark",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms"])
        for r in text_ops.bm25_rank(docs, text_ops.BM25_QUERY_TERMS).collect()
    }
    want = _bm25_reference(corpus, text_ops.BM25_QUERY_TERMS)
    assert set(got) == set(want) == {1, 2, 4}  # doc 3 matches no query term
    for d, s in want.items():
        assert got[d][0] == pytest.approx(s, abs=0), f"doc {d} exact micro-quantized score"
    assert got[1][1] == 2 and got[2][1] == 1 and got[4][1] == 4


def test_bm25_second_point_terms_pinned_to_rrf2(spark):
    """Round 15 (VERDICT r14 item 6): q_text_bm25_2 exists to pin the
    ranker at the SAME term set the second hybrid-RRF point consumes — a
    silent drift between the two constants would quietly decouple the
    driver proof from the point rrf2 actually exercises."""
    from hadoop_web_browsing_logs_spark.operators.similarity import RRF2_QUERY_TERMS

    assert text_ops.BM25_QUERY_TERMS_2 == RRF2_QUERY_TERMS
    # and the second point stays disjoint from the first (it proves a
    # genuinely different region of the posting space)
    assert not set(text_ops.BM25_QUERY_TERMS_2) & set(text_ops.BM25_QUERY_TERMS)
    # scalar-reference golden at the second term set (same discipline as
    # test_bm25_golden_matches_scalar_reference at the first)
    corpus = {
        1: "filter scan filter batch",
        2: "scan table stream",
        3: "table row window",
        4: "batch stream filter scan scan batch",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["bm25"], r["n_terms"])
        for r in text_ops.bm25_rank(docs, text_ops.BM25_QUERY_TERMS_2).collect()
    }
    want = _bm25_reference(corpus, text_ops.BM25_QUERY_TERMS_2)
    assert set(got) == set(want) == {1, 2, 4}  # doc 3 matches no query term
    for d, s in want.items():
        assert got[d][0] == pytest.approx(s, abs=0), f"doc {d} exact micro-quantized score"
    assert got[1][1] == 3 and got[2][1] == 2 and got[4][1] == 4


def test_bm25_ranking_properties(spark):
    # same length, more distinct query-term mass => higher score; top_k caps
    corpus = {
        1: "spark hash merge row",
        2: "spark row row row",
        3: "row row row row",
        4: "spark hash merge window",
    }
    docs = spark.createDataFrame(list(corpus.items()), ["doc_id", "text"])
    rows = text_ops.bm25_rank(docs, text_ops.BM25_QUERY_TERMS, top_k=2).collect()
    assert [r["doc_id"] for r in rows] == [4, 1]  # all-4-terms doc wins, k honored
