"""Dedup + multimodal tests: DuckDB differentials, MinHash accuracy,
LSH recall vs brute force, and the stubbed codec boundary."""

from __future__ import annotations

import pytest

from hadoop_web_browsing_logs_spark.plans.registry import all_queries, get_query

from .conftest import SF_DIR, assert_query_matches_oracle


def _oracle_names():
    return sorted(
        n
        for n, q in all_queries().items()
        if q.oracle is not None and q.category in ("dedup", "multimodal")
    )


@pytest.mark.parametrize("name", _oracle_names())
def test_matches_duckdb_oracle(spark, duck, name):
    assert_query_matches_oracle(spark, duck, name)


def test_minhash_estimates_jaccard(spark):
    rows = get_query("q_dedup_minhash").fn(spark, SF_DIR).collect()
    assert rows
    mae = sum(r.est_err for r in rows) / len(rows)
    # 32 permutations → stderr ≈ sqrt(J(1-J)/32) ≈ 0.09 at J=0.5
    assert mae < 0.15, f"MinHash MAE {mae}"


def test_minhash_lsh_finds_brute_force_pairs(spark):
    """Every pair the brute-force Jaccard query flags at the threshold should
    be recovered by the LSH candidate path (restricted to the same sample) —
    at J≥0.9 the per-band collision probability is ≈ 0.9^4 ≈ 0.66, so across
    8 bands recall ≈ 1-(1-0.66)^8 ≈ 0.9998."""
    brute = {
        (r.doc_a, r.doc_b)
        for r in get_query("q_dedup_jaccard_pairs").fn(spark, SF_DIR).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in get_query("q_dedup_minhash_lsh").fn(spark, SF_DIR).collect()
    }
    assert brute, "sample produced no high-Jaccard pairs — threshold too high"
    recovered = len(brute & lsh) / len(brute)
    assert recovered >= 0.9, f"LSH recovered only {recovered:.2f} of brute-force pairs"


def test_simhash_close_docs_close_hashes(spark):
    """SimHash of identical token sets must be identical."""
    from pyspark.sql import functions as F

    df = get_query("q_dedup_simhash").fn(spark, SF_DIR)
    rows = df.collect()
    assert all(0 <= r.simhash < 2**16 for r in rows)


def test_multimodal_codec_is_stubbed(spark):
    """The non-fake codec path must raise NotImplementedError (documented stub)."""
    from hadoop_web_browsing_logs_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media(b"xxx", "image")
    assert decode_media(b"abc", "image", fake=True) == b"cba"


def test_resize_stub_raises_through_spark(spark):
    """Driving the stub through the real mapInPandas path should surface the
    NotImplementedError from the executor."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PythonException

    from hadoop_web_browsing_logs_spark.operators.multimodal import resize_images, synth_media
    from hadoop_web_browsing_logs_spark.sources.readers import load_table

    media = synth_media(load_table(spark, SF_DIR, "documents").limit(6))
    with pytest.raises((PythonException, Py4JJavaError)):
        resize_images(media, 64, 64).collect()


def test_connected_components_consistent_with_pairs(spark):
    """Every near-dup pair must land in one component; every component id is
    the minimum member id; components are disjoint and cover all paired docs."""
    from hadoop_web_browsing_logs_spark.operators.dedup import connected_components
    from hadoop_web_browsing_logs_spark.plans.registry import get_query

    pairs = [
        (r.doc_a, r.doc_b)
        for r in get_query("q_dedup_jaccard_pairs").fn(spark, SF_DIR).collect()
    ]
    assert pairs
    comp_rows = get_query("q_dedup_components").fn(spark, SF_DIR).collect()
    member_to_comp = {}
    for r in comp_rows:
        members = [int(m) for m in r.members.split(" ")]
        assert r.component == min(members)
        assert r.n_members == len(members)
        for m in members:
            assert m not in member_to_comp, "components overlap"
            member_to_comp[m] = r.component
    for a, b in pairs:
        assert member_to_comp[a] == member_to_comp[b], f"pair {(a, b)} split across components"
    # ground truth via union-find over the same pairs
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(x, y):
        parent[find(x)] = find(y)
    for a, b in pairs:
        union(a, b)
    truth = {}
    for n in member_to_comp:
        truth.setdefault(find(n), set()).add(n)
    got = {}
    for m, c in member_to_comp.items():
        got.setdefault(c, set()).add(m)
    assert sorted(map(sorted, truth.values())) == sorted(map(sorted, got.values()))


def test_incremental_lsh_equals_full_pipeline_restricted(spark):
    """The incremental batch-vs-corpus pipeline must agree with the FULL
    portable pipeline restricted to pairs touching the batch: same unordered
    pairs, same exact Jaccard, and zero old x old pairs — proving the
    incremental rewrite prunes the corpus-squared work without changing any
    emitted pair."""
    full = {
        frozenset((r.doc_a, r.doc_b)): r.jaccard
        for r in get_query("q_dedup_minhash_lsh_portable").fn(spark, SF_DIR).collect()
        if r.doc_a % 4 == 1 or r.doc_b % 4 == 1
    }
    inc_rows = get_query("q_dedup_incremental_lsh").fn(spark, SF_DIR).collect()
    inc = {frozenset((r.doc_a, r.doc_b)): r.jaccard for r in inc_rows}
    assert inc == full and full
    for r in inc_rows:
        assert r.doc_b % 4 == 1  # the b side is always the new batch


def test_connected_components_long_chain_pointer_jumping(spark):
    """Round-12 regression (found by a randomized union-find differential):
    the original loop propagated min-labels ONE hop per iteration, so
    max_iter=25 silently fragmented any component with diameter > 25 — a
    61-node chain came back as 36 components. The pointer-jumping step
    (label := min(label, label-of-label)) makes convergence logarithmic:
    a 200-node chain (diameter 199 >> 25) must collapse to component 0,
    and a long cycle likewise."""
    from hadoop_web_browsing_logs_spark.operators.dedup import connected_components

    chain = spark.createDataFrame([(i, i + 1) for i in range(199)], ["doc_a", "doc_b"])
    got = {r.node: r.component for r in connected_components(chain).collect()}
    assert got == {i: 0 for i in range(200)}

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 101) for i in range(101)], ["doc_a", "doc_b"]
    )
    got = {r.node: r.component for r in connected_components(cycle).collect()}
    assert got == {i: 0 for i in range(101)}


@pytest.mark.parametrize(
    "name,ceiling",
    # measured at local[4] and local[8]: 29-30 and 33 jobs. Unshared
    # centers rerun Lloyd for the centroid_far rank: keepfar then takes 39
    [("q_dedup_semantic", 30), ("q_dedup_semantic_keepfar", 33)],
)
def test_semantic_dedup_runs_lloyd_once_per_call(spark, name, ceiling):
    """One cold call builds the checkpointed Lloyd centers once and shares
    them with every reader in its plan, so it stays under a job ceiling."""
    from hadoop_web_browsing_logs_spark.session import release_caches

    sc = spark.sparkContext
    release_caches(spark)
    group = f"ceiling-{name}"
    sc.setJobGroup(group, f"{name} job count")
    try:
        get_query(name).fn(spark, SF_DIR).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    release_caches(spark)
    assert 0 < len(jobs) <= ceiling, sorted(jobs)


def test_semantic_dedup_cluster_bounded_survivors(spark):
    """Round 11: SemDeDup semantics on constructed geometry — two tight
    clusters; within each, near-identical vectors collapse onto the
    smallest-id survivor; cross-cluster near-identity is deliberately NOT
    a duplicate (the cluster bound is the scale contract, and SemDeDup
    accepts that quantization miss by design)."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import semantic_dedup

    rows = [
        # cluster A around +e1 (ids 0,2,3): 2 and 3 are ~copies of 0
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.998, 0.0, 0.01, 0.0]),
        # cluster B around +e2 (ids 1,4,5): 4 ~copies 1; 5 is orthogonal
        # enough (cos ~0.7 vs tau 0.95) to stay unique within B
        (1, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.01, 0.999, 0.0, 0.0]),
        (5, [0.0, 0.7, 0.714, 0.0]),
    ]
    vs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # k=2 seeds are ids 0 (cluster A) and 1 (cluster B)
    got = {r.vec_id: (r.center_id, r.is_dup, r.dup_of)
           for r in semantic_dedup(vs, k=2, tau=0.95).collect()}
    assert len(got) == 6
    # survivors: the smallest id of each dup group, and the lone vector
    assert got[0] == (0, False, None)
    assert got[1] == (1, False, None)
    assert got[5][1:] == (False, None)
    # dups collapse onto the group's smallest id
    assert got[2] == (0, True, 0)
    assert got[3] == (0, True, 0)
    assert got[4] == (1, True, 1)
    # the two clusters never mixed
    assert got[2][0] == got[3][0] == got[0][0]
    assert got[4][0] == got[5][0] == got[1][0]


def test_semantic_dedup_residual_duplication_bound_at_cap(spark):
    """Round 13 (VERDICT r12 item 7): the guard's RECALL contract — a
    duplicate GROUP of size g >> max_cluster collapses to at most
    s = ceil(cluster_size/max_cluster) survivors (one per sub-bucket),
    i.e. residual duplication after the prune is bounded by s/g as the
    semantic_dedup docstring states. Planted: one cluster that IS a
    g=640 group of identical vectors with cap=64 → s=10; a small
    background cluster keeps k=2 honest. The bound must hold exactly:
    every sub-bucket keeps exactly its min-id row, everything else in
    the group is pruned, so survivors == #non-empty buckets <= s and
    residual duplication <= s/g = 1.6%."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import (
        _SEMDEDUP_SALT_MOD,
        _SEMDEDUP_SALT_MULT,
        _SEMDEDUP_SALT_SHIFT,
        semantic_dedup,
    )

    cap, g = 64, 640
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(g)]  # the dup group
    rows += [(g + j, [0.0, 1.0, 0.0, 0.0]) for j in range(4)]  # background
    vs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    centers = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])], ["center_id", "c"]
    ).select("center_id", F.col("c").cast("array<double>").alias("c"))
    got = {
        r.vec_id: (r.center_id, r.is_dup, r.dup_of)
        for r in semantic_dedup(
            vs, 2, tau=0.95, centers=centers, max_cluster=cap
        ).collect()
    }
    assert len(got) == g + 4

    def salt(vid: int, s: int) -> int:
        h = ((vid % _SEMDEDUP_SALT_MOD) * _SEMDEDUP_SALT_MULT) % _SEMDEDUP_SALT_MOD
        return (h >> _SEMDEDUP_SALT_SHIFT) % s

    s = (g + cap - 1) // cap
    assert s == 10
    buckets: dict[int, list[int]] = {}
    for vid in range(g):
        buckets.setdefault(salt(vid, s), []).append(vid)
    survivors = sorted(vid for vid in range(g) if not got[vid][1])
    # exactly one survivor per non-empty sub-bucket: its min id
    assert survivors == sorted(min(b) for b in buckets.values())
    assert len(survivors) <= s  # the documented bound ...
    assert len(survivors) / g <= s / g <= 0.016  # ... = residual duplication
    # every pruned group row names its own bucket's min id as witness
    for vid in range(g):
        b_min = min(buckets[salt(vid, s)])
        assert got[vid] == (0, vid != b_min, b_min if vid != b_min else None)


def test_semantic_dedup_hot_cluster_guard(spark):
    """Round 12 (VERDICT r11 item 1): with >=90% of the corpus in ONE
    cluster — the boilerplate-heavy web-corpus shape SemDeDup exists for —
    the pair stage must not put a quadratic pair set on one shuffle key.
    The guard sub-splits the hot cluster into ceil(size/max_cluster)
    id-salted buckets; this test replays the WHOLE guarded semantics
    (sizes -> sub-bucket counts -> Knuth-hash salts -> bucket-visible
    pairs -> greedy prune) in pure Python/NumPy and asserts the engine
    matches row-for-row, that per-bucket pair counts are bounded, and
    that the hot cluster of near-identical rows still collapses to at
    most one survivor per bucket."""
    import duckdb
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import (
        _SEMDEDUP_SALT_MOD,
        _SEMDEDUP_SALT_MULT,
        _SEMDEDUP_SALT_SHIFT,
        semantic_dedup,
    )

    cap = 64
    rng = np.random.default_rng(20261212)
    rows = []
    # hot cluster: 280 near-identical vectors around +e1 (cos >= 0.999 —
    # far from tau, so the float comparison is never borderline). NOTE a
    # GEOMETRIC split could never separate these; the id-salt must.
    for i in range(280):
        v = np.array([1.0, 0.0, 0.0, 0.0]) + rng.uniform(-1e-3, 1e-3, 4)
        rows.append((i, [float(x) for x in v]))
    # 20 background vectors around +e2/+e3 (orthogonal to the hot mass)
    for i in range(280, 290):
        v = np.array([0.0, 1.0, 0.0, 0.0]) + rng.uniform(-1e-2, 1e-2, 4)
        rows.append((i, [float(x) for x in v]))
    for i in range(290, 300):
        v = np.array([0.0, 0.0, 1.0, 0.0]) + rng.uniform(-1e-2, 1e-2, 4)
        rows.append((i, [float(x) for x in v]))
    vs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # explicit centers pin the assignment so the >=90%-hot premise is
    # deterministic (Lloyd itself is certified elsewhere)
    centers = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])],
        ["center_id", "c"],
    ).select("center_id", F.col("c").cast("array<double>").alias("c"))
    tau = 0.9
    got = {
        r.vec_id: (r.center_id, r.is_dup, r.dup_of)
        for r in semantic_dedup(vs, 3, tau=tau, centers=centers, max_cluster=cap).collect()
    }
    assert len(got) == 300

    # --- pure-Python replay of the guarded semantics ---
    def salt(vid: int, s: int) -> int:
        h = ((vid % _SEMDEDUP_SALT_MOD) * _SEMDEDUP_SALT_MULT) % _SEMDEDUP_SALT_MOD
        return (h >> _SEMDEDUP_SALT_SHIFT) % s

    center = {vid: c for vid, (c, _, _) in got.items()}
    sizes: dict[int, int] = {}
    for c in center.values():
        sizes[c] = sizes.get(c, 0) + 1
    # premise: the fixture really is skewed
    assert max(sizes.values()) >= 0.9 * 300
    nsub = {c: (sz + cap - 1) // cap for c, sz in sizes.items()}
    bucket = {vid: (center[vid], salt(vid, nsub[center[vid]])) for vid in center}
    X = {vid: np.array(v) for vid, v in rows}
    nrm = {vid: np.linalg.norm(x) for vid, x in X.items()}
    for vid in sorted(got):
        mates = [
            u
            for u in range(vid)
            if bucket[u] == bucket[vid]
            and float(X[vid] @ X[u]) / (nrm[vid] * nrm[u]) >= tau
        ]
        want = (center[vid], bool(mates), min(mates) if mates else None)
        assert got[vid] == want, (vid, got[vid], want)

    # --- bounded pair work: the hot cluster's pairs spread over its
    # sub-buckets instead of one m^2 shuffle key ---
    from collections import Counter

    bsz = Counter(bucket.values())
    hot = max(sizes, key=sizes.get)
    m = sizes[hot]
    assert nsub[hot] == (m + cap - 1) // cap >= 4  # a real split happened
    hot_buckets = {k: n for k, n in bsz.items() if k[0] == hot}
    assert len(hot_buckets) == nsub[hot]
    assert max(hot_buckets.values()) <= 2 * cap  # hash balance, with slack
    guarded_pairs = sum(n * (n - 1) // 2 for n in hot_buckets.values())
    assert guarded_pairs <= m * cap  # vs m*(m-1)/2 ~ 39k unguarded
    # the near-identical hot mass still collapses: exactly one survivor
    # per sub-bucket (residual duplication bounded by s/g, as documented)
    hot_survivors = [v for v, (c, d, _) in got.items() if c == hot and not d]
    assert len(hot_survivors) == nsub[hot]

    # --- engine-portability of the salt itself: DuckDB computes the same
    # BIGINT arithmetic bit-for-bit (the oracle mirror's core claim) ---
    con = duckdb.connect()
    for vid in (0, 1, 137, 280, 299):
        s = nsub[center[vid]]
        d = con.execute(
            f"SELECT (((({vid} % {_SEMDEDUP_SALT_MOD}) * {_SEMDEDUP_SALT_MULT})"
            f" % {_SEMDEDUP_SALT_MOD}) >> {_SEMDEDUP_SALT_SHIFT}) % {s}"
        ).fetchone()[0]
        assert d == salt(vid, s)


def test_semantic_dedup_hot_cluster_guard_keepfar(spark):
    """Round 12: the keepfar variant under an ACTIVE guard on the same
    skewed shape — the priority rank window now partitions by
    (center_id, salt), so the greedy prune must behave as 'farthest from
    centroid survives, PER SUB-BUCKET'. Full NumPy replay of
    assignment → sizes → salts → bucket-local rank → prune."""
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import (
        _SEMDEDUP_SALT_MOD,
        _SEMDEDUP_SALT_MULT,
        _SEMDEDUP_SALT_SHIFT,
        semantic_dedup,
    )

    cap = 32
    rng = np.random.default_rng(20261213)
    rows = []
    for i in range(90):  # hot cluster of near-copies around +e1
        v = np.array([1.0, 0.0, 0.0, 0.0]) + rng.uniform(-1e-3, 1e-3, 4)
        rows.append((i, [float(x) for x in v]))
    for i in range(90, 100):  # background around +e2
        v = np.array([0.0, 1.0, 0.0, 0.0]) + rng.uniform(-1e-2, 1e-2, 4)
        rows.append((i, [float(x) for x in v]))
    vs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cs = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])]
    centers = spark.createDataFrame(cs, ["center_id", "c"]).select(
        "center_id", F.col("c").cast("array<double>").alias("c")
    )
    tau = 0.9
    got = {
        r.vec_id: (r.center_id, r.is_dup, r.dup_of)
        for r in semantic_dedup(
            vs, 2, tau=tau, centers=centers, keep="centroid_far", max_cluster=cap
        ).collect()
    }
    assert len(got) == 100

    def salt(vid: int, s: int) -> int:
        h = ((vid % _SEMDEDUP_SALT_MOD) * _SEMDEDUP_SALT_MULT) % _SEMDEDUP_SALT_MOD
        return (h >> _SEMDEDUP_SALT_SHIFT) % s

    X = {vid: np.array(v) for vid, v in rows}
    C = {cid: np.array(c) for cid, c in cs}
    center = {vid: got[vid][0] for vid in got}
    sizes: dict[int, int] = {}
    for c in center.values():
        sizes[c] = sizes.get(c, 0) + 1
    assert sizes[0] == 90 and sizes[1] == 10  # premise: skewed + guard active
    nsub = {c: (sz + cap - 1) // cap for c, sz in sizes.items()}
    assert nsub[0] == 3 and nsub[1] == 1
    bucket = {vid: (center[vid], salt(vid, nsub[center[vid]])) for vid in got}
    # bucket-local priority: farthest from the ASSIGNED centroid first,
    # ties (none here by construction) to smaller id
    pri: dict[int, int] = {}
    for b in set(bucket.values()):
        members = [v for v in got if bucket[v] == b]
        members.sort(key=lambda v: (-float(np.sum((X[v] - C[b[0]]) ** 2)), v))
        for rank, v in enumerate(members, start=1):
            pri[v] = rank
    nrm = {vid: float(np.linalg.norm(x)) for vid, x in X.items()}
    for vid in sorted(got):
        mates = [
            (pri[u], u)
            for u in got
            if bucket[u] == bucket[vid]
            and pri[u] < pri[vid]
            and float(X[vid] @ X[u]) / (nrm[vid] * nrm[u]) >= tau
        ]
        want_dup = min(mates)[1] if mates else None
        assert got[vid] == (center[vid], want_dup is not None, want_dup), (
            vid, got[vid], want_dup,
        )
    # exactly one survivor per hot sub-bucket, and each survivor is the
    # bucket's FARTHEST member, not its smallest id
    for b in {bk for v, bk in bucket.items() if bk[0] == 0}:
        members = [v for v in got if bucket[v] == b]
        survivors = [v for v in members if not got[v][1]]
        assert len(survivors) == 1
        assert pri[survivors[0]] == 1


def test_semantic_dedup_keepfar_prefers_centroid_far_survivor(spark):
    """Round 11: the paper keep rule — among near-identical cluster-mates,
    the one FARTHEST from the cluster centroid survives, regardless of id
    order (the min_id rule would keep the smallest id instead)."""
    from pyspark.sql import functions as F

    from hadoop_web_browsing_logs_spark.operators.dedup import semantic_dedup

    rows = [
        # cluster A around +e1: ids 0, 2, 3 are near-copies; 3 sits a bit
        # farther from the centroid (larger magnitude), so under
        # centroid_far it must be the survivor even though 0 is the seed
        (0, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.01, 0.0, 0.0]),
        (3, [1.4, 0.0, 0.0, 0.0]),
        # cluster B anchor (seed), far from A
        (1, [0.0, 1.0, 0.0, 0.0]),
    ]
    vs = spark.createDataFrame(rows, ["vec_id", "embedding"]).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    far = {r.vec_id: (r.is_dup, r.dup_of)
           for r in semantic_dedup(vs, k=2, tau=0.95, keep="centroid_far").collect()}
    # 3 is farthest from A's centroid -> survivor; 0 and 2 collapse onto it
    assert far[3] == (False, None)
    assert far[0] == (True, 3)
    assert far[2] == (True, 3)
    assert far[1] == (False, None)
    # contrast: min_id keeps 0
    mid = {r.vec_id: (r.is_dup, r.dup_of)
           for r in semantic_dedup(vs, k=2, tau=0.95, keep="min_id").collect()}
    assert mid[0] == (False, None)
    assert mid[3] == (True, 0)
