"""Property-based tests (hypothesis): differential invariants between
independent code paths, run on generated inputs rather than fixtures.

Kept cheap: few examples per property (each example runs Spark jobs), no
deadlines (JVM warmup skews the first example)."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pucminas_data_pipelines_spark.operators import dedup as D
from pucminas_data_pipelines_spark.operators.sampling import hash_bucket
from pucminas_data_pipelines_spark.operators.skew import salted_inner_join
from pucminas_data_pipelines_spark.operators.upsert import ManifestVersionedTable
from tests.table_model import canon, model_merge

_SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "omega", "kappa", "sigma", "zeta"]
)
_texts = st.lists(_words, min_size=3, max_size=30).map(" ".join)


@_SETTINGS
@given(st.lists(st.tuples(st.integers(0, 999), _texts), min_size=2, max_size=12))
def test_minhash_estimate_tracks_exact_jaccard(spark, rows):
    """est_jaccard (minhash agreement) must track the exact shingle Jaccard
    (array_intersect/union path) within the 64-hash sampling error."""
    docs = (
        spark.createDataFrame(rows, "doc_id int, text string")
        .dropDuplicates(["doc_id"])
        .where(F.size(F.split(F.col("text"), " ")) >= 3)
    )
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.0)
    exact = D.ngram_jaccard_pairs(pairs, docs, "doc_id", "text", threshold=0.0)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in pairs.collect()}
    for r in exact.collect():
        err = abs(est[(r["id_a"], r["id_b"])] - r["jaccard"])
        # 64 hashes -> binomial std <= 0.0625; 6 sigma plus discretization
        assert err <= 0.4, (r, est[(r["id_a"], r["id_b"])])


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.integers(0, 5)),
            st.one_of(st.none(), st.integers(0, 100)),
        ),
        min_size=0,
        max_size=30,
    ),
    st.lists(
        st.tuples(st.one_of(st.none(), st.integers(0, 5)), st.text(max_size=4)),
        min_size=0,
        max_size=8,
    ),
    st.integers(2, 6),
)
def test_salted_join_equivalence(spark, left_rows, right_rows, factor):
    """Salted inner join == plain inner join for any data / salt factor,
    including hot keys (left keys drawn from just 6 values), NULL join
    keys on either side (both joins drop them), and NULL salt-source
    values (xxhash64 of NULL is a non-null constant, so the row still
    lands in a salt bucket and must not be lost)."""
    l = spark.createDataFrame(left_rows, "k int, payload int") if left_rows else None
    r = spark.createDataFrame(right_rows, "k int, name string") if right_rows else None
    if l is None or r is None:
        return
    r = r.dropDuplicates(["k"])

    def canon(df):
        # null-safe sort key: Python can't compare None with ints
        return sorted(
            map(tuple, df.select("k", "payload", "name").collect()),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    plain = canon(l.join(r, "k"))
    salted = canon(salted_inner_join(l, r, "k", factor=factor, salt_from="payload"))
    assert plain == salted


@_SETTINGS
@given(
    st.dictionaries(st.integers(0, 20), st.integers(0, 99), min_size=1, max_size=10),
    st.dictionaries(st.integers(0, 20), st.integers(100, 199), min_size=1, max_size=10),
)
def test_merge_upsert_semantics(spark, tmp_path_factory, base, updates):
    """A whole-table (one-bucket) merge == dict-update semantics on any
    key sets; time travel v0 == the original base."""
    path = str(tmp_path_factory.mktemp("prop_merge") / "t")
    t = ManifestVersionedTable(spark, path, key="k", n_buckets=1)
    t.overwrite(spark.createDataFrame(sorted(base.items()), "k int, v int"))
    t.merge(spark.createDataFrame(sorted(updates.items()), "k int, v int"))
    expected = dict(base)
    expected.update(updates)
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == expected
    got_v0 = {r["k"]: r["v"] for r in t.read(version_as_of=0).collect()}
    assert got_v0 == base


@_SETTINGS
@given(st.lists(st.integers(min_value=-(2**62), max_value=2**62), min_size=1, max_size=50))
def test_hash_bucket_layout_invariance(spark, ids):
    """hash_bucket must not depend on partitioning/row order: the sample
    membership of an id is a pure function of the id."""
    df = spark.createDataFrame([(i,) for i in set(ids)], "id long")
    one = {
        r["id"]: r["b"]
        for r in df.coalesce(1).select("id", hash_bucket(F.col("id")).alias("b")).collect()
    }
    many = {
        r["id"]: r["b"]
        for r in df.repartition(7)
        .select("id", hash_bucket(F.col("id")).alias("b"))
        .collect()
    }
    assert one == many
    assert all(0 <= b < 100 for b in one.values())


@pytest.mark.parametrize("algorithm", ["lpa", "two_phase"])
@_SETTINGS
@given(st.lists(st.tuples(st.integers(0, 30), st.integers(0, 30)), min_size=1, max_size=25))
def test_cluster_collapse_is_valid_partition(spark, algorithm, edges):
    """Connected-components output: every member maps to the min id of its
    component (checked against a Python union-find on the same edges) —
    for BOTH algorithms (min-label propagation and the alternating
    large-star/small-star two-phase), which share the output contract."""
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 1)], "id_a int, id_b int"
    )
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for r in pairs.collect():
        union(r["id_a"], r["id_b"])
    expected = {x: find(x) for x in parent}
    got = {
        r["member_id"]: r["cluster_rep"]
        for r in D.dedup_clusters(
            pairs, max_iters=40, algorithm=algorithm
        ).collect()
    }
    assert got == expected


_edges = st.lists(
    st.tuples(st.integers(0, 7), st.integers(0, 7)),
    min_size=1,
    max_size=16,
)


@_SETTINGS
@given(_edges)
def test_triangle_count_matches_bruteforce(spark, edges):
    """Degree-oriented distributed count == O(n^3) python brute force on
    the same undirected simple graph."""
    from pucminas_data_pipelines_spark.operators.graph import triangle_count

    df = spark.createDataFrame(edges, "src int, dst int")
    got = triangle_count(df).collect()[0]["n_triangles"]

    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    expect = sum(
        1
        for i, a in enumerate(nodes)
        for b in nodes[i + 1 :]
        for c in nodes
        if c > b
        and (a, b) in und
        and tuple(sorted((b, c))) in und
        and tuple(sorted((a, c))) in und
    )
    assert got == expect, (sorted(und), got, expect)


@_SETTINGS
@given(_edges)
def test_pagerank_mass_and_floor(spark, edges):
    """On any graph: every rank >= teleport floor, and when no node is
    dangling (all nodes have out-edges) total mass == 1."""
    from pucminas_data_pipelines_spark.operators.graph import pagerank

    clean = [e for e in edges if e[0] != e[1]]
    if not clean:
        return
    df = spark.createDataFrame(clean, "src int, dst int")
    ranks = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    n = len(ranks)
    floor = 0.15 / n
    assert all(v >= floor - 1e-12 for v in ranks.values())
    srcs = {e[0] for e in clean}
    if all(node in srcs for node in ranks):  # no dangling nodes
        assert abs(sum(ranks.values()) - 1.0) < 1e-9


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 400)),
        min_size=1,
        max_size=20,
    ),
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 400)),
        min_size=1,
        max_size=20,
    ),
    st.sampled_from([3600, 24 * 3600, 7 * 24 * 3600]),
)
def test_interval_overlap_equals_theta_join(spark, a_rows, b_rows, bucket):
    """Bucketized interval-overlap join == plain theta join for any
    intervals and any bucket width (width tunes cost, never results) —
    including intervals spanning many buckets and boundary-touching
    pairs."""
    from datetime import datetime, timedelta

    from pucminas_data_pipelines_spark.operators.interval import (
        interval_overlap_join,
    )

    t0 = datetime(2024, 1, 1)

    def mk(rows, id_c, s_c, e_c):
        data = [
            (i, t0 + timedelta(hours=start), t0 + timedelta(hours=start + dur))
            for i, (start, dur) in enumerate(rows)
        ]
        return spark.createDataFrame(
            data, f"{id_c} int, {s_c} timestamp, {e_c} timestamp"
        )

    left = mk(a_rows, "a_id", "a_start", "a_end")
    right = mk(b_rows, "b_id", "b_start", "b_end")
    got = {
        (r.a_id, r.b_id): r.overlap_seconds
        for r in interval_overlap_join(
            left,
            right,
            ("a_id", "a_start", "a_end"),
            ("b_id", "b_start", "b_end"),
            bucket_seconds=bucket,
        ).collect()
    }
    want = {
        (r.a_id, r.b_id): r.ov
        for r in left.join(
            right,
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end")),
        )
        .select(
            "a_id",
            "b_id",
            (
                F.least(F.unix_timestamp("a_end"), F.unix_timestamp("b_end"))
                - F.greatest(
                    F.unix_timestamp("a_start"), F.unix_timestamp("b_start")
                )
            ).cast("bigint").alias("ov"),
        )
        .collect()
    }
    assert got == want


@_SETTINGS
@given(
    st.lists(st.tuples(st.integers(0, 999), _texts), min_size=2, max_size=12),
    st.sampled_from([0.3, 0.5, 0.7]),
)
def test_prefix_filter_candidates_are_lossless(spark, rows, threshold):
    """PPJoin guarantee: prefix-filter candidates (with length + positional
    residual filters) must be a SUPERSET of the true Jaccard>=t pair set —
    the filters may only discard pairs that provably cannot reach t."""
    docs = (
        spark.createDataFrame(rows, "doc_id int, text string")
        .dropDuplicates(["doc_id"])
        .where(F.size(F.split(F.col("text"), " ")) >= 3)
    )
    if docs.count() < 2:
        return
    cands = {
        (r["id_a"], r["id_b"])
        for r in D.prefix_filter_pairs(
            docs, "doc_id", "text", threshold=threshold
        ).collect()
    }
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("text").alias("ta"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("text").alias("tb"))
    all_pairs = a.crossJoin(b).where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    true_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.ngram_jaccard_pairs(
            all_pairs, docs, "doc_id", "text", threshold=threshold
        ).collect()
    }
    assert true_pairs <= cands, (
        f"lost true pairs at t={threshold}: {true_pairs - cands}"
    )


@_SETTINGS
@given(
    st.lists(_words, min_size=8, max_size=40),
    st.integers(0, 7),
    _words,
)
def test_content_defined_chunking_localizes_edits(spark, words, edit_pos, new_word):
    """The CDC property: inserting one token changes only the chunk it
    lands in — the original chunk disappears, at most two replacements
    appear, and every OTHER chunk hash survives (|symmetric difference|
    <= 3). Fixed-size blocks lack this; it is why CDC dedup survives
    insertions."""
    from pyspark.sql import Window

    def chunk_hashes(text: str) -> list[str]:
        d = spark.createDataFrame([(1, text)], "doc_id int, text string")
        tok = d.select(
            "doc_id",
            F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "pos", "token"
            ),
        )
        boundary = (F.col("pos") == 0) | (
            F.conv(F.substring(F.md5("token"), 1, 8), 16, 10).cast("bigint")
            % 16
            == 0
        )
        w = (
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        chunks = (
            tok.select(
                "doc_id",
                "pos",
                "token",
                F.sum(boundary.cast("int")).over(w).alias("chunk_no"),
            )
            .groupBy("doc_id", "chunk_no")
            .agg(
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(F.struct("pos", "token"))
                            ),
                            lambda s: s["token"],
                        ),
                        " ",
                    ).cast("binary")
                ).alias("h")
            )
        )
        return [r["h"] for r in chunks.collect()]

    original = " ".join(words)
    pos = min(edit_pos, len(words))
    edited = " ".join(words[:pos] + [new_word] + words[pos:])
    a, b = chunk_hashes(original), chunk_hashes(edited)
    from collections import Counter

    diff = Counter(a) - Counter(b), Counter(b) - Counter(a)
    n_changed = sum(diff[0].values()) + sum(diff[1].values())
    assert n_changed <= 3, (original, edited, diff)


@_SETTINGS
@given(st.lists(st.integers(1, 50), min_size=5, max_size=60))
def test_count_min_never_undercounts(spark, keys):
    """CMS one-sided error on arbitrary key multisets: the minimum over
    hash rows is always >= the true count (collisions only ADD)."""
    P, W = 2147483647, 16  # tiny width to force collisions
    HASHES = [(1103515245, 12345), (69069, 362437), (214013, 2531011)]
    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    grid = df.select(
        "k",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("i"),
                        (((F.lit(a) * F.col("k") + F.lit(b)) % P) % W).alias(
                            "bucket"
                        ),
                    )
                    for i, (a, b) in enumerate(HASHES)
                ]
            )
        ).alias("h"),
    )
    sketch = {
        (r["i"], r["bucket"]): r["cnt"]
        for r in grid.groupBy(F.col("h.i").alias("i"), F.col("h.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    from collections import Counter

    true = Counter(keys)
    for k, n in true.items():
        est = min(
            sketch[(i, ((a * k + b) % P) % W)]
            for i, (a, b) in enumerate(HASHES)
        )
        assert est >= n, (k, est, n)


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    )
)
def test_label_propagation_refines_components(spark, edges):
    """Every LPA community must lie inside one connected component
    (labels only travel along edges), and every node must keep exactly
    one label."""
    from pucminas_data_pipelines_spark.operators.graph import label_propagation

    rows = [(a, b) for a, b in edges if a != b] or [(0, 1)]
    e = spark.createDataFrame(rows, "src int, dst int")
    und = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    comm = {
        r["node"]: r["community"]
        for r in label_propagation(und, iterations=2).collect()
    }
    comp = {
        r["member_id"]: r["cluster_rep"]
        for r in D.dedup_clusters(
            und.selectExpr("src AS id_a", "dst AS id_b")
        ).collect()
    }
    nodes = {a for a, _ in rows} | {b for _, b in rows}
    assert set(comm) == nodes  # one label per node, no drops
    by_community: dict[int, set[int]] = {}
    for node, c in comm.items():
        by_community.setdefault(c, set()).add(comp[node])
    for c, comps in by_community.items():
        assert len(comps) == 1, (c, comps)


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1,
        max_size=12,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50), st.integers(0, 99)),
        min_size=0,
        max_size=12,
    ),
    st.sampled_from(["backward", "forward", "nearest"]),
)
def test_asof_agg_paths_match_bruteforce(spark, lrows, rrows, direction):
    """All three as-of directions (map-side-combined max_by/min_by paths
    for integer tiebreaks) must equal a Python brute-force reference on
    any key/timestamp tie pattern: per left row, pick by direction
    (latest ts <= / earliest ts >= / smallest |gap| with earlier-ts tie
    rule), ties broken by GREATEST tiebreak id; unmatched left rows kept
    with NULL right columns (how='left'). nearest uses a wide tolerance
    so the band never excludes a candidate the reference sees."""
    import datetime as dt

    from pyspark.sql import functions as SF

    from pucminas_data_pipelines_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame(
        [(i, k, base + dt.timedelta(hours=t)) for i, (k, t) in enumerate(lrows)],
        "eid int, k int, ts timestamp",
    )
    R = spark.createDataFrame(
        [(k, oid, base + dt.timedelta(hours=t)) for k, t, oid in rrows],
        "k int, oid int, ots timestamp",
    ) if rrows else spark.createDataFrame([], "k int, oid int, ots timestamp")

    expected = {}
    for i, (k, t) in enumerate(lrows):
        matching = [(rt, oid) for rk, rt, oid in rrows if rk == k]
        if direction == "backward":
            cands = [(rt, oid) for rt, oid in matching if rt <= t]
            best = max(cands) if cands else None
        elif direction == "forward":
            cands = [(rt, oid) for rt, oid in matching if rt >= t]
            # earliest ts, ties -> greatest oid
            best = min(cands, key=lambda p: (p[0], -p[1])) if cands else None
        else:  # nearest: smallest |gap|, ties earlier ts, then greatest oid
            best = (
                min(matching, key=lambda p: (abs(p[0] - t), p[0], -p[1]))
                if matching
                else None
            )
        expected[i] = best[1] if best else None

    tol = SF.expr("INTERVAL 100 DAYS") if direction != "backward" else None
    got = {
        r["eid"]: r["oid"]
        for r in asof_join(
            L, R, on=["k"], left_ts="ts", right_ts="ots",
            direction=direction, tolerance=tol, tiebreak=["oid"],
        ).collect()
    }
    assert got == expected


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=18,
    ),
    st.sets(st.integers(0, 9), min_size=1, max_size=3),
    st.integers(1, 4),
    st.booleans(),
)
def test_hop_distances_match_reference_bfs(spark, edges, sources, cap, bcast):
    """Delta-BFS (frontier-only relaxation + early exit) must equal a
    Python reference BFS on random directed graphs: multi-source min
    distance, hop-cap exclusion, and identical results with the frontier
    broadcast hint on or off. Seeds with no edges must still appear at
    distance 0 (the round-0 state is the source set itself)."""
    from pucminas_data_pipelines_spark.operators.graph import hop_distances

    rows = [(a, b) for a, b in edges if a != b] or [(0, 1)]
    adj: dict[int, set[int]] = {}
    for a, b in rows:
        adj.setdefault(a, set()).add(b)
    expected = {s: 0 for s in sources}
    frontier = set(sources)
    for k in range(1, cap + 1):
        nxt = {
            d
            for n in frontier
            for d in adj.get(n, ())
            if d not in expected
        }
        for d in nxt:
            expected[d] = k
        frontier = nxt
        if not frontier:
            break

    e = spark.createDataFrame(rows, "src int, dst int")
    s = spark.createDataFrame([(x,) for x in sources], "node int")
    got = {
        r["node"]: r["dist"]
        for r in hop_distances(
            e, s, max_hops=cap, broadcast_state=bcast
        ).collect()
    }
    assert got == expected


@_SETTINGS
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=18,
    )
)
def test_kcore_peel_reaches_peeling_fixpoint(spark, edges):
    """With rounds >= |V|, kcore_peel must agree with a reference Python
    peel run to fixpoint: every surviving node keeps degree >= k inside
    the survivor subgraph, and the survivor edge sets match exactly."""
    from pucminas_data_pipelines_spark.operators.graph import kcore_peel

    k = 2
    rows = sorted({(a, b) for a, b in edges if a != b})
    rows = rows or [(0, 1)]
    und = sorted({(a, b) for a, b in rows} | {(b, a) for a, b in rows})

    # reference: peel to fixpoint in plain Python
    cur = set(und)
    while True:
        deg: dict[int, int] = {}
        for a, _ in cur:
            deg[a] = deg.get(a, 0) + 1
        alive = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in cur if a in alive and b in alive}
        if nxt == cur:
            break
        cur = nxt

    e = spark.createDataFrame(und, "a int, b int")
    got = {
        (r["a"], r["b"])
        for r in kcore_peel(e, k=k, rounds=12).collect()
    }
    assert got == cur


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from([0.0, 1.0, 1.0, 2.5, 2.5, 2.5, -3.0, 1e6]),
            st.one_of(st.none(), st.integers(-50, 50)),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(2, 9),
)
def test_range_prefix_sum_equals_global_window(spark, rows, n_buckets):
    """operators/ordered.py's two-pass prefix sum must equal the
    single-partition global window on ANY input — heavy ties (keys drawn
    from 5 values), negatives, NULL values (incl. all-NULL buckets after
    non-null ones: global SUM skips NULLs, so the running sum must hold
    the prior base, and stay NULL only before the first non-null value),
    outlier buckets, any bucket count. The id column makes the order
    total so the comparison is well-defined."""
    from pyspark.sql.window import Window

    from pucminas_data_pipelines_spark.operators import ordered as ORD

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "k double, v bigint, id bigint",
    )
    got = {
        r["id"]: r["cum_v"]
        for r in ORD.range_prefix_sum(
            df, ["k", "id"], ["v"], "k", n_buckets=n_buckets
        ).collect()
    }
    w = Window.orderBy("k", "id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    want = {
        r["id"]: r["cum"]
        for r in df.select("id", F.sum("v").over(w).alias("cum")).collect()
    }
    assert got == want


@_SETTINGS
@given(
    st.lists(
        st.tuples(
            st.sampled_from([0.0, 1.0, 1.0, 7.5, -2.0]),
            st.integers(-50, 50),
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 8),
)
def test_range_ntile_and_lead_equal_global_window(spark, rows, k):
    """range_ntile and range_lead must equal their single-partition
    twins for any tie pattern and any tile count (including k > n)."""
    from pyspark.sql.window import Window

    from pucminas_data_pipelines_spark.operators import ordered as ORD

    df = spark.createDataFrame(
        [(key, v, i) for i, (key, v) in enumerate(rows)],
        "k double, v bigint, id bigint",
    )
    w = Window.orderBy("k", "id")
    got_t = {
        r["id"]: r["tile"]
        for r in ORD.range_ntile(df, ["k", "id"], "k", k, n_buckets=4).collect()
    }
    want_t = {
        r["id"]: r["t"]
        for r in df.select("id", F.ntile(k).over(w).alias("t")).collect()
    }
    assert got_t == want_t
    got_l = {
        r["id"]: r["lead"]
        for r in ORD.range_lead(df, ["k", "id"], "v", "k", n_buckets=4).collect()
    }
    want_l = {
        r["id"]: r["l"]
        for r in df.select("id", F.lead("v").over(w).alias("l")).collect()
    }
    assert got_l == want_l


def test_asof_min_by_tiebreak_at_integral_min_value(spark):
    """Forward/nearest min_by paths negate integral tiebreaks; without
    widening, -MIN_VALUE overflows (ANSI error on Spark 4, silent
    wraparound otherwise → wrong row picked). The operator widens
    byte/short/int → long and long → decimal(20,0) before the unary
    minus, so a tiebreak AT the type minimum must both run and lose to
    any greater tiebreak (ties broken by GREATEST id)."""
    import datetime as dt

    from pucminas_data_pipelines_spark.operators.asof import asof_join

    base = dt.datetime(2024, 1, 1)
    L = spark.createDataFrame([(1, base)], "k int, ts timestamp")
    for ddl, lo in [
        ("bigint", -(2**63)),
        ("int", -(2**31)),
        ("smallint", -(2**15)),
        ("tinyint", -128),
    ]:
        R = spark.createDataFrame(
            [(1, lo, base), (1, 7, base)], f"k int, oid {ddl}, ots timestamp"
        )
        for direction in ("forward", "nearest"):
            tol = (
                F.expr("INTERVAL 1 DAY") if direction == "nearest" else None
            )
            got = asof_join(
                L, R, on=["k"], left_ts="ts", right_ts="ots",
                direction=direction, tolerance=tol, tiebreak=["oid"],
            ).collect()
            assert len(got) == 1 and got[0]["oid"] == 7, (ddl, direction, got)


@_SETTINGS
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.floats(allow_nan=True, allow_infinity=True, width=32),
            st.floats(min_value=0.01, max_value=100.0),
        ),
        min_size=1,
        max_size=20,
    ),
    st.integers(1, 8),
)
def test_weighted_exact_k_selects_only_valid_weights(spark, weights, k):
    """Efraimidis–Spirakis exact-k: the sample contains min(k, eligible)
    rows, every selected row has a finite positive weight, and the
    selected SET is invariant under repartitioning — regardless of NaN /
    Inf / NULL / non-positive weights in the pool (Spark's total
    ordering sorts NaN above every number, so an ungated NaN key would
    win the top-k)."""
    import math

    from pucminas_data_pipelines_spark.operators.sampling import (
        weighted_sample_exact_k,
    )

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "id bigint, w double"
    )
    eligible = {
        i
        for i, w in enumerate(weights)
        if w is not None and not math.isnan(w) and w > 0
    }
    picked = {
        r["id"]
        for r in weighted_sample_exact_k(df, "id", F.col("w"), k=k).collect()
    }
    assert picked <= eligible
    assert len(picked) == min(k, len(eligible))
    repicked = {
        r["id"]
        for r in weighted_sample_exact_k(
            df.repartition(5), "id", F.col("w"), k=k
        ).collect()
    }
    assert repicked == picked


@_SETTINGS
@given(
    st.dictionaries(
        st.one_of(st.none(), st.integers(0, 20)),
        st.one_of(st.none(), st.integers(0, 99)),
        min_size=1,
        max_size=10,
    ),
    st.dictionaries(
        st.one_of(st.none(), st.integers(0, 20)),
        st.one_of(st.none(), st.integers(100, 199)),
        min_size=1,
        max_size=10,
    ),
    st.integers(1, 9),
)
def test_manifest_merge_matches_model(
    spark, tmp_path_factory, base, updates, n_buckets
):
    """ManifestVersionedTable.merge (bucket-pruned rewrite) must equal the
    plain-Python MERGE model on arbitrary key sets — NULL keys and NULL
    values included — for any bucket count, and time travel to v0 must
    serve the base."""
    base_rows, update_rows = list(base.items()), list(updates.items())

    def _df(rows):
        return spark.createDataFrame(canon(rows), "k int, v int")

    path = str(tmp_path_factory.mktemp("prop_mvt") / "t")
    m = ManifestVersionedTable(spark, path, key="k", n_buckets=n_buckets)
    m.overwrite(_df(base_rows))
    m.merge(_df(update_rows))
    assert canon(m.read().collect()) == canon(model_merge(base_rows, update_rows))
    assert canon(m.read(version_as_of=0).collect()) == canon(base_rows)


# -- ManifestVersionedTable: model-based op-sequence property -------------

_mvt_score = st.sampled_from([None, 0.5, 10.0, 20.0, 35.5, 60.0])
_mvt_rows = st.lists(
    st.tuples(st.integers(0, 9), _words, _mvt_score),
    min_size=1,
    max_size=6,
)
_mvt_merge_rows = st.lists(
    st.tuples(st.integers(0, 9), _words, _mvt_score),
    min_size=1,
    max_size=6,
    unique_by=lambda r: r[0],  # merge refuses ambiguous (duplicate) keys
)
_mvt_op = st.one_of(
    st.tuples(st.just("append"), _mvt_rows),
    st.tuples(st.just("merge"), _mvt_merge_rows),
    st.tuples(
        st.just("delete_cow"), st.sampled_from([5.0, 15.0, 30.0, 50.0])
    ),
    st.tuples(
        st.just("delete_dv"), st.sampled_from([5.0, 15.0, 30.0, 50.0])
    ),
    st.tuples(st.just("optimize"), st.none()),
    st.tuples(st.just("restore"), st.integers(0, 3)),
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    base=_mvt_rows,
    ops=st.lists(_mvt_op, min_size=1, max_size=5),
    n_buckets=st.sampled_from([1, 2, 4]),
)
def test_manifest_table_op_sequences_match_model(
    spark, tmp_path_factory, base, ops, n_buckets
):
    """Model-based differential test over random op sequences (append /
    merge / copy-on-write delete / deletion-vector delete / optimize /
    restore): after every op the table must read exactly as a plain
    Python multiset model predicts — including duplicate keys introduced
    by append, NULL merge keys inserted as-is, NULL-score rows surviving
    score-threshold deletes, DV and CoW deletes agreeing, optimize
    preserving content, and restore reproducing any committed version."""
    path = str(tmp_path_factory.mktemp("mvt_model") / "t")
    t = ManifestVersionedTable(spark, path, key="id", n_buckets=n_buckets)

    def df(rows):
        return spark.createDataFrame(
            rows, "id bigint, name string, score double"
        )

    def canon(rows):
        return sorted(
            rows, key=lambda r: (r[0] is None, r[0], r[1], r[2] is None, r[2])
        )

    t.overwrite(df(base))
    snapshots = [list(base)]
    for op, arg in ops:
        state = snapshots[-1]
        if op == "append":
            t.append(df(arg))
            snapshots.append(state + list(arg))
        elif op == "merge":
            t.merge(df(arg))
            snapshots.append(model_merge(state, arg))
        elif op in ("delete_cow", "delete_dv"):
            mode = "copy_on_write" if op == "delete_cow" else "merge_on_read"
            t.delete_where(F.col("score") >= arg, mode=mode)
            snapshots.append(
                [r for r in state if r[2] is None or r[2] < arg]
            )
        elif op == "optimize":
            t.optimize()
            snapshots.append(list(state))
        elif op == "restore":
            v = min(arg, t.latest_version())
            t.restore(v)
            snapshots.append(list(snapshots[v]))
        got = canon([tuple(r) for r in t.read().collect()])
        assert got == canon(snapshots[-1]), f"after {op}({arg})"
    # every committed version must still time-travel to its model state
    for v, expected in enumerate(snapshots):
        got = canon([tuple(r) for r in t.read(version_as_of=v).collect()])
        assert got == canon(expected), f"time travel to v{v}"
