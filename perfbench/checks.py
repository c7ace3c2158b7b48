"""Output checks: order-insensitive result digests, DuckDB oracle
expectations for the query mixes, and an independent pure-Python run of the
reference's two jobs for the file workflow."""

from __future__ import annotations

import decimal
import hashlib
import json
import math
import os
import re
import time
import unicodedata


def _canon(v) -> str:
    """One cell as text, type-sensitive like the oracle comparator of the
    tier-1 tests: ints, floats and decimals carry their type class, so a
    query returning 5.0 where the oracle returns 5 (or a HUGEINT/DECIMAL
    where it returns a bigint) fails the check. Floats keep six decimals,
    so the last-bit differences of a different summation order do not
    count as a mismatch."""
    if v is None:
        return "\0NULL"
    if isinstance(v, decimal.Decimal):
        return f"d:{v}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:NaN"
        return f"f:{v:.6f}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


#: bumped whenever ``_canon`` changes, so cached oracle digests are redone
CANON_VERSION = "typed-1"


def digest(columns: list[str], rows: list) -> dict:
    """Row count and an order-insensitive SHA-256 over the rows, with the
    columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted("\x1f".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i].lower() for i in order).encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return {"rows": len(rows), "sha256": h.hexdigest()}


def duck_rows(res) -> tuple[list[str], list[tuple]]:
    """A DuckDB result fetched through Arrow, as the tier-1 tests fetch it:
    HUGEINT and DECIMAL cells stay ``decimal.Decimal`` (``fetchall`` would
    turn them into ints) and nulls stay ``None``."""
    tbl = res.arrow()
    cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
    return list(tbl.column_names), [tuple(r) for r in zip(*cols)] if cols else []


def data_fingerprint(data_dir: str) -> str:
    """SHA-256 over the Parquet files of ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            with open(os.path.join(data_dir, name), "rb") as fh:
                h.update(name.encode())
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def oracle_expectations(data_dir: str, oracles: dict[str, str], cache_path: str) -> dict:
    """Digest of each query's DuckDB oracle over ``data_dir``; cached in
    ``cache_path`` per data fingerprint, because some oracles take minutes."""
    fp = data_fingerprint(data_dir)
    cached = {}
    if os.path.exists(cache_path):
        with open(cache_path) as fh:
            cached = json.load(fh)
        if (cached.get("data_sha256"), cached.get("canon")) != (fp, CANON_VERSION):
            cached = {}
    exp = cached.get("queries", {})
    missing = [q for q in oracles if q not in exp]
    if missing:
        import duckdb

        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(data_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(data_dir, f)
                    con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')")
            for q in missing:
                t0 = time.perf_counter()
                exp[q] = digest(*duck_rows(con.execute(oracles[q])))
                exp[q]["oracle_s"] = round(time.perf_counter() - t0, 3)
        finally:
            con.close()
        os.makedirs(os.path.dirname(cache_path), exist_ok=True)
        with open(cache_path, "w") as fh:
            json.dump(
                {
                    "data_sha256": fp,
                    "canon": CANON_VERSION,
                    "derived": "registry oracle SQL run by DuckDB over the same Parquet files",
                    "queries": exp,
                },
                fh,
                indent=1,
            )
    return {q: exp[q] for q in oracles}


# ---------------------------------------------------------------------------
# Reference two-job workflow, pure Python
# ---------------------------------------------------------------------------

def _strip_punct(token: str) -> str:
    """Java's ``\\p{P}``: every Unicode character of a punctuation category."""
    return "".join(c for c in token if not unicodedata.category(c).startswith("P"))


def reference_outputs(
    docs: dict[int, str], stopwords: list[str], centers: list[list[int]], stem
) -> tuple[list[str], list[str]]:
    """Expected lines of Job 1 (``term\\t[v,...,]`` by term) and Job 2
    (``cluster\\tmembers`` by cluster) for ``docs`` keyed by file number
    1..N, computed without Spark."""
    stop = {w.strip().lower() for w in stopwords if w.strip()}
    postings: dict[str, set[int]] = {}
    for doc_id, text in docs.items():
        for tok in re.split(r"\s+", text.lower().strip()):
            tok = _strip_punct(tok)
            if tok and tok not in stop:
                postings.setdefault(stem(tok), set()).add(doc_id)
    n = len(docs)
    job1, assigned = [], {}
    for term in sorted(postings, key=lambda s: s.encode()):
        p = postings[term]
        job1.append(term + "\t[" + "".join("1," if i in p else "0," for i in range(1, n + 1)) + "]")
        best = None
        for cid, c in enumerate(centers, start=1):
            dot = sum(1 for i in p if c[i - 1])
            dist = 1 - dot / (math.sqrt(float(len(p))) * math.sqrt(float(sum(c))))
            if best is None or dist < best[0]:
                best = (dist, cid)
        assigned.setdefault(best[1], []).append(term)
    job2 = [
        f"{k}\t" + " ".join(sorted(assigned[cid], key=lambda s: s.encode()))
        for k, cid in enumerate(sorted(assigned), start=1)
    ]
    return job1, job2


def read_text_output(path: str) -> list[str]:
    """Lines of a Spark text output directory, part files in name order."""
    lines: list[str] = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    return lines
