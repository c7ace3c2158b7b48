"""Drop-in reference workflow: the reference's ``main(String[] args)``
contract (ProcessData.java:624-679) re-expressed on Spark.

Reference invocation:  hadoop jar ... ProcessData <input_docs_dir> <output_dir>
                       <stopwords_file> <centers_file>
Engine invocation:     python -m hadoop_web_browsing_logs_spark refjob
                       <input_docs_dir> <output_dir> <stopwords_file> <centers_file>

Outputs (reference text formats):

- ``<output_dir>/inverted_index/``  — Job 1 parity: ``term\\t[1,0,1,]`` lines,
  term-sorted, trailing-comma vectors (ProcessData.java:462-469, SURVEY Q2/Q8)
- ``<output_dir>/kmeans/``          — Job 2 parity: ``<cluster#>\\t<members>``
  lines (space-separated terms, sorted — deterministic where the reference
  depended on shuffle order). Written beside, not inside, Job 1's output
  (the reference nested it into its own input dir — SURVEY Q7).

Side files match the reference's DistributedCache inputs: stopwords = one
word per line (ProcessData.java:423-435); centers = one incidence-vector
string per line in the same ``[v1,v2,...,]`` format (ProcessData.java:579-590).
A center must have one 0/1 slot per document and at least one 1; anything
else raises ``ValueError`` naming the line.

Materialize once: Job 2 consumes Job 1's index, as in the reference, but
instead of re-reading Job 1's text output (A11) it reads the same term →
postings index, persisted for the run. The corpus is scanned once, the
Porter stage runs once, and the document count (the vector length) comes
from the scan's file listing, not from a count job. Job 1 is the shared
:func:`~.operators.text.inverted_index`, densified only for its text output;
Job 2 is the shared sparse-cosine :func:`~.operators.text.nearest_center`.
The ≤k cluster rows are collected once, written, and returned as a local
frame; the index is unpersisted before returning.

The reference's bugs are not reproduced (SURVEY Appendix A): cosine is real
cosine (not XOR-power, B1), argmin is a real argmin (B2), no key-rewriting
combiner (B3), cluster numbering is global and deterministic (B4), and any
dimensionality/digit width parses (Q5: the reference handled exactly 3
single-digit dims).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _parse_centers(lines, n_docs: int) -> list[list[int]]:
    """Parse the centers file — one ``[1,0,1,]`` vector per line, tolerating
    the trailing comma like TokenizerMapper2's parser (ProcessData.java:545-557,
    but for any length) — into each center's 1-based positions of its 1s.

    Raises ``ValueError`` naming the 1-based line when a vector does not have
    ``n_docs`` slots, holds a value other than 0/1, or is all zeros (its
    cosine distance would divide by zero)."""
    centers = []
    for lineno, line in enumerate(lines, start=1):
        if not line.strip():
            continue
        body = line.strip().lstrip("[").rstrip("]")
        slots = [x.strip() for x in body.split(",") if x.strip() != ""]
        where = f"centers file line {lineno}"
        if len(slots) != n_docs:
            raise ValueError(f"{where}: {len(slots)} slots, expected one per document ({n_docs})")
        bad = [x for x in slots if x not in ("0", "1")]
        if bad:
            raise ValueError(f"{where}: value {bad[0]!r} is not 0 or 1")
        positions = [i for i, x in enumerate(slots, start=1) if x == "1"]
        if not positions:
            raise ValueError(f"{where}: all-zero center has no cosine distance")
        centers.append(positions)
    if not centers:
        raise ValueError("centers file has no centers")
    return centers


def run_reference_jobs(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    stopwords_file: str,
    centers_file: str,
) -> DataFrame:
    """Execute Job 1 + Job 2 off one persisted term → postings index; write
    both reference-format outputs; return the clusters ``(cluster, members)``
    as a local frame of at most k rows."""
    from .operators._util import local_frame
    from .operators.text import densify_incidence, inverted_index, nearest_center
    from .sources.readers import corpus_size, read_corpus_dir
    from .sources.writers import write_reference_text

    with open(stopwords_file) as fh:
        stopwords = tuple(w.strip().lower() for w in fh if w.strip())
    corpus = read_corpus_dir(spark, input_dir)
    n_docs = corpus_size(corpus)  # A3: corpus cardinality == vector length
    with open(centers_file) as fh:
        centers = _parse_centers(fh, n_docs)
    centers_df = local_frame(
        spark, {"centers": [[{"postings": p} for p in centers]]}, "centers ARRAY<STRUCT<postings: ARRAY<INT>>>"
    )

    index = inverted_index(spark, corpus, stopwords=stopwords).select("term", "postings").persist()
    try:
        dense = densify_incidence(index, n_docs=n_docs, one_based=True)
        write_reference_text(dense, f"{output_dir}/inverted_index", term_col="term", vec_col="vec")
        rows = (
            nearest_center(index, centers_df)
            .groupBy("center_id")
            .agg(F.concat_ws(" ", F.sort_array(F.collect_list("term"))).alias("members"))
            .collect()
        )
    finally:
        index.unpersist()

    # clusters numbered 1.. in center order, skipping empty centers (B4)
    members = [r.members for r in sorted(rows, key=lambda r: r.center_id)]
    clusters = local_frame(
        spark, {"cluster": list(range(1, len(members) + 1)), "members": members}, "cluster INT, members STRING"
    )
    (
        clusters.select(F.concat_ws("\t", F.col("cluster").cast("string"), F.col("members")).alias("value"))
        .coalesce(1)
        .write.mode("overwrite")
        .text(f"{output_dir}/kmeans")
    )
    return clusters
