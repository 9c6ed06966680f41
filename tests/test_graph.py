"""PageRank operator: conservation, dangling mass, convergence, hygiene.

The driver oracle runs the symmetric trade graph (no dangling nodes);
this suite owns the paths the oracle can't see — dangling
redistribution, duplicate-edge collapse, null endpoints — against
closed-form and hand-computed values.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tfx_addons_feast_examplegen_spark.operators.graph import pagerank


def _ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src: string, dst: string")
    return {r["node"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_uniform_on_symmetric_cycle(spark):
    # triangle with both directions: already stationary at 1/3 each
    e = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("a", "c"), ("c", "a")]
    got = _ranks(spark, e, iterations=4)
    assert got == pytest.approx({"a": 1 / 3, "b": 1 / 3, "c": 1 / 3})


def test_dangling_mass_redistributes_hand_computed(spark):
    # a -> b, b dangling; one iteration from the uniform start:
    #   contrib(b) = 1/2;  dangling mass = rank(b) = 1/2
    #   rank'(a) = 0.075 + 0.85 * (0   + 0.25) = 0.2875
    #   rank'(b) = 0.075 + 0.85 * (0.5 + 0.25) = 0.7125
    got = _ranks(spark, [("a", "b")], iterations=1)
    assert got == pytest.approx({"a": 0.2875, "b": 0.7125})


def test_mass_conserved_every_shape(spark):
    shapes = [
        [("a", "b")],                                 # dangling
        [("a", "b"), ("a", "c"), ("b", "c")],          # DAG, c dangling
        [("a", "b"), ("b", "c"), ("c", "a")],          # cycle
    ]
    for e in shapes:
        got = _ranks(spark, e, iterations=7)
        assert sum(got.values()) == pytest.approx(1.0)


def test_duplicate_edges_collapse_and_nulls_drop(spark):
    base = _ranks(spark, [("a", "b"), ("b", "a")], iterations=3)
    noisy = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), (None, "a"), ("b", None)],
        "src: string, dst: string",
    )
    got = {r["node"]: r["rank"] for r in pagerank(noisy, iterations=3).collect()}
    assert got == pytest.approx(base)


def test_hub_cycle_concentrates_mass(spark):
    # star: every leaf points at the hub, hub points back at one leaf.
    # Mass oscillates around the hub<->l0 2-cycle (damping 0.85 damps
    # but does not kill the alternation at finite k), so assert the
    # iteration-stable facts: the cycle holds almost all mass, the
    # off-cycle leaves sit at the undamped floor (1-d)/N + d*(1-d)/N...
    # = exactly 0.025 here, and symmetry keeps them identical.
    e = [(f"l{i}", "hub") for i in range(5)] + [("hub", "l0")]
    got = _ranks(spark, e, iterations=10)
    assert got["hub"] + got["l0"] == pytest.approx(0.9, abs=0.01)
    assert min(got["hub"], got["l0"]) > got["l1"]
    assert got["l1"] == pytest.approx(got["l4"])
    assert got["l1"] == pytest.approx(0.025)


def test_zero_iterations_and_empty_graph(spark):
    got = _ranks(spark, [("a", "b"), ("b", "a")], iterations=0)
    assert got == pytest.approx({"a": 0.5, "b": 0.5})
    empty = spark.createDataFrame([], "src: string, dst: string")
    assert pagerank(empty, iterations=3).count() == 0


def test_validation(spark):
    df = spark.createDataFrame([("a", "b")], "src: string, dst: string")
    with pytest.raises(ValueError):
        pagerank(df, iterations=-1)
    with pytest.raises(ValueError):
        pagerank(df, damping=1.5)


# ---------------------------------------------------------------------------
# bfs_levels
# ---------------------------------------------------------------------------

def _ref_bfs(edges, seeds, max_hops):
    from collections import deque

    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    lvl = {s: 0 for s in seeds}
    q = deque(seeds)
    while q:
        u = q.popleft()
        if lvl[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in lvl:
                lvl[v] = lvl[u] + 1
                q.append(v)
    return lvl


def test_bfs_matches_reference_on_random_graphs(spark):
    import random

    from tfx_addons_feast_examplegen_spark.operators.graph import bfs_levels

    rng = random.Random(17)
    n = 100
    edges = list({(rng.randrange(n), rng.randrange(n)) for _ in range(220)})
    seeds = sorted(rng.sample(range(n), 3))
    e = spark.createDataFrame(edges, "src: long, dst: long")
    s = spark.createDataFrame([(x,) for x in seeds], "node: long")
    for hops in (0, 1, 3, 12):
        got = {
            r["node"]: r["level"]
            for r in bfs_levels(e, s, max_hops=hops).collect()
        }
        assert got == _ref_bfs(edges, seeds, hops), hops


def test_bfs_seed_outside_graph_and_cycle(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import bfs_levels

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src: long, dst: long"
    )
    s = spark.createDataFrame([(99,), (1,)], "node: long")
    got = {
        r["node"]: r["level"] for r in bfs_levels(e, s, max_hops=10).collect()
    }
    # seed 99 reports itself at level 0; the 3-cycle terminates early
    # (frontier empties) well before max_hops.
    assert got == {99: 0, 1: 0, 2: 1, 3: 2}


def test_bfs_null_endpoints_dropped(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import bfs_levels

    e = spark.createDataFrame(
        [(1, 2), (None, 3), (2, None)], "src: long, dst: long"
    )
    s = spark.createDataFrame([(1,)], "node: long")
    got = {
        r["node"]: r["level"] for r in bfs_levels(e, s, max_hops=5).collect()
    }
    assert got == {1: 0, 2: 1}


def test_bfs_rejects_negative_hops(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import bfs_levels

    e = spark.createDataFrame([(1, 2)], "src: long, dst: long")
    with pytest.raises(ValueError):
        bfs_levels(e, e.select(F.col("src").alias("node")), max_hops=-1)


# ---------------------------------------------------------------------------
# HITS
# ---------------------------------------------------------------------------


def _hits(spark, edges, **kw):
    from tfx_addons_feast_examplegen_spark.operators.graph import hits

    df = spark.createDataFrame(edges, "src: string, dst: string")
    return {
        r["node"]: (r["hub"], r["authority"])
        for r in hits(df, **kw).collect()
    }


def test_hits_hand_computed_bipartite(spark):
    # h1,h2 -> a1; h2 -> a2. One iteration by hand (all-ones init):
    #   auth(a1)=2, auth(a2)=1; hub(h1)=2, hub(h2)=2+1=3.
    # L2-normalized: auth = (2,1)/sqrt(5), hub = (2,3)/sqrt(13);
    # pure hubs have authority 0, pure authorities hub 0.
    import math

    got = _hits(spark, [("h1", "a1"), ("h2", "a1"), ("h2", "a2")],
                iterations=1)
    assert got["h1"][0] == pytest.approx(2 / math.sqrt(13))
    assert got["h2"][0] == pytest.approx(3 / math.sqrt(13))
    assert got["a1"][1] == pytest.approx(2 / math.sqrt(5))
    assert got["a2"][1] == pytest.approx(1 / math.sqrt(5))
    assert got["a1"][0] == got["a2"][0] == 0.0  # dangling: no out-edges
    assert got["h1"][1] == got["h2"][1] == 0.0  # no in-edges


def test_hits_per_iteration_normalization_same_direction(spark):
    # The updates are linear, so per-iteration rescaling only multiplies
    # by scalars and the final L2 normalization cancels them: both modes
    # must return the SAME unit vectors.
    e = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "c")]
    end = _hits(spark, e, iterations=4, normalize="end")
    per = _hits(spark, e, iterations=4, normalize="per_iteration")
    assert set(end) == set(per)
    for n in end:
        assert end[n][0] == pytest.approx(per[n][0], abs=1e-9)
        assert end[n][1] == pytest.approx(per[n][1], abs=1e-9)


def test_hits_duplicate_edges_collapse_and_nulls_drop(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import hits

    e = spark.createDataFrame(
        [("x", "y"), ("x", "y"), (None, "y"), ("x", None)],
        "src: string, dst: string",
    )
    got = {r["node"]: (r["hub"], r["authority"])
           for r in hits(e, iterations=2).collect()}
    assert set(got) == {"x", "y"}
    assert got["x"] == (1.0, 0.0) and got["y"] == (0.0, 1.0)


def test_hits_validation(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import hits

    e = spark.createDataFrame([("a", "b")], "src: string, dst: string")
    with pytest.raises(ValueError, match="iterations"):
        hits(e, iterations=0)
    with pytest.raises(ValueError, match="normalize"):
        hits(e, normalize="never")


# ---------------------------------------------------------------------------
# label propagation
# ---------------------------------------------------------------------------


def _lpa(spark, edges, **kw):
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        label_propagation,
    )

    df = spark.createDataFrame(edges, "src: string, dst: string")
    return {
        r["node"]: r["label"] for r in label_propagation(df, **kw).collect()
    }


def _sym(edges):
    return edges + [(b, a) for a, b in edges]


def test_lpa_two_cliques_stay_separate_communities(spark):
    # two triangles bridged by one edge: each clique converges to ONE
    # label and the bridge is too weak to merge them (1 vote vs 2).
    # The label VALUE is whatever the deterministic tie-breaks flood
    # (here 'c' crosses the bridge into the second clique in round 1
    # and then wins inside it) — the community PARTITION is the
    # contract, not the label identity.
    k1 = [("a", "b"), ("b", "c"), ("a", "c")]
    k2 = [("x", "y"), ("y", "z"), ("x", "z")]
    got = _lpa(spark, _sym(k1 + k2 + [("c", "x")]), iterations=4)
    assert got["a"] == got["b"] == got["c"]
    assert got["x"] == got["y"] == got["z"]
    assert got["a"] != got["x"]
    # and the result is a fixed point by round 3 (stable, no oscillation)
    assert got == _lpa(spark, _sym(k1 + k2 + [("c", "x")]), iterations=3)


def test_lpa_synchronous_round_semantics_hand_computed(spark):
    # path a-b-c, ONE synchronous round, votes use PREVIOUS labels:
    #   a sees {b} -> b; b sees {a, c} -> a (tie, smallest); c sees {b}
    got = _lpa(spark, _sym([("a", "b"), ("b", "c")]), iterations=1)
    assert got == {"a": "b", "b": "a", "c": "b"}


def test_lpa_isolated_and_directed_fallback(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        label_propagation,
    )

    # directed-only edge: 'src' has no in-neighbors and must KEEP its
    # previous label through every round, not drop out or go null
    got = _lpa(spark, [("s", "t")], iterations=3)
    assert got["s"] == "s" and got["t"] == "s"

    e = label_propagation(
        spark.createDataFrame([("a", None)], "src: string, dst: string"),
        iterations=1,
    )
    assert e.collect() == []  # null endpoints drop; no nodes remain

    import pytest as _pytest

    with _pytest.raises(ValueError, match="iterations"):
        label_propagation(
            spark.createDataFrame([("a", "b")], "src: string, dst: string"),
            iterations=0,
        )


def test_lpa_matches_python_model_on_random_graphs(spark):
    # Independent Python model of the synchronous update rule, checked
    # over deterministic pseudo-random digraphs (same house style as
    # the BFS random-graph test): most-frequent in-neighbor previous
    # label, smallest label on ties, keep previous with no in-neighbors.
    import random
    from collections import Counter

    from tfx_addons_feast_examplegen_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(1311)
    for trial in range(4):
        n = rng.randint(4, 12)
        nodes = [f"n{i:02d}" for i in range(n)]
        edges = sorted(
            {
                (rng.choice(nodes), rng.choice(nodes))
                for _ in range(rng.randint(n, 3 * n))
            }
        )
        edges = [(a, b) for a, b in edges if a != b] or [(nodes[0], nodes[1])]
        iters = rng.randint(1, 3)

        in_nbrs: dict[str, list[str]] = {}
        present = set()
        for a, b in edges:
            in_nbrs.setdefault(b, []).append(a)
            present.update((a, b))
        labels = {v: v for v in present}
        for _ in range(iters):
            nxt = {}
            for v in present:
                votes = Counter(labels[u] for u in in_nbrs.get(v, []))
                if votes:
                    top = max(votes.values())
                    nxt[v] = min(l for l, c in votes.items() if c == top)
                else:
                    nxt[v] = labels[v]
            labels = nxt

        df = spark.createDataFrame(edges, "src: string, dst: string")
        got = {
            r["node"]: r["label"]
            for r in label_propagation(df, iterations=iters).collect()
        }
        assert got == labels, (trial, iters, edges)


def test_lpa_weighted_hand_computed_and_accumulation(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        label_propagation,
    )

    # path a-b-c with a HEAVY a->b edge: b's vote is a:5 vs c:1, so
    # weight outvotes the unweighted tie (which picked 'a' only via
    # the smallest-label break); c still adopts b's previous label.
    edges = [("a", "b", 5), ("b", "a", 5), ("b", "c", 1), ("c", "b", 1)]
    df = spark.createDataFrame(edges, "src: string, dst: string, w: long")
    got = {
        r["node"]: r["label"]
        for r in label_propagation(df, weight_col="w", iterations=1).collect()
    }
    assert got == {"a": "b", "b": "a", "c": "b"}

    # heavier minority beats numerous light votes: z sees x:1+1 vs y:3
    edges2 = [("x1", "z", 1), ("x2", "z", 1), ("y", "z", 3)]
    # make label sources stable: x1/x2/y keep their own labels (no
    # in-edges), z adopts the heaviest total = y
    df2 = spark.createDataFrame(edges2, "src: string, dst: string, w: long")
    got2 = {
        r["node"]: r["label"]
        for r in label_propagation(
            df2, weight_col="w", iterations=1
        ).collect()
    }
    assert got2["z"] == "y"

    # parallel (src, dst) edges ACCUMULATE: two w=2 edges x->z total 4,
    # outvoting y's 3
    edges3 = edges2 + [("x1", "z", 3)]
    df3 = spark.createDataFrame(edges3, "src: string, dst: string, w: long")
    got3 = {
        r["node"]: r["label"]
        for r in label_propagation(
            df3, weight_col="w", iterations=1
        ).collect()
    }
    assert got3["z"] == "x1"

    # weight_col=None with all-1 weights == unweighted
    u = spark.createDataFrame(
        [(a, b) for a, b, _ in edges], "src: string, dst: string"
    )
    uw = spark.createDataFrame(
        [(a, b, 1) for a, b, _ in edges], "src: string, dst: string, w: long"
    )
    assert sorted(
        map(tuple, label_propagation(u, iterations=2).collect())
    ) == sorted(
        map(
            tuple,
            label_propagation(uw, weight_col="w", iterations=2).collect(),
        )
    )


def test_lpa_weighted_matches_python_model_on_random_graphs(spark):
    # Independent model: votes sum integer edge weights (parallel
    # edges pre-accumulated), max total then smallest label.
    import random
    from collections import defaultdict

    from tfx_addons_feast_examplegen_spark.operators.graph import (
        label_propagation,
    )

    rng = random.Random(1407)
    for trial in range(4):
        n = rng.randint(4, 12)
        nodes = [f"n{i:02d}" for i in range(n)]
        raw = [
            (rng.choice(nodes), rng.choice(nodes), rng.randint(1, 5))
            for _ in range(rng.randint(n, 3 * n))
        ]
        raw = [(a, b, w) for a, b, w in raw if a != b] or [
            (nodes[0], nodes[1], 2)
        ]
        iters = rng.randint(1, 3)

        acc: dict[tuple[str, str], int] = defaultdict(int)
        for a, b, w in raw:
            acc[(a, b)] += w
        in_nbrs: dict[str, list[tuple[str, int]]] = defaultdict(list)
        present = set()
        for (a, b), w in acc.items():
            in_nbrs[b].append((a, w))
            present.update((a, b))
        labels = {v: v for v in present}
        for _ in range(iters):
            nxt = {}
            for v in present:
                votes: dict[str, int] = defaultdict(int)
                for u, w in in_nbrs.get(v, []):
                    votes[labels[u]] += w
                if votes:
                    top = max(votes.values())
                    nxt[v] = min(l for l, c in votes.items() if c == top)
                else:
                    nxt[v] = labels[v]
            labels = nxt

        df = spark.createDataFrame(raw, "src: string, dst: string, w: long")
        got = {
            r["node"]: r["label"]
            for r in label_propagation(
                df, weight_col="w", iterations=iters
            ).collect()
        }
        assert got == labels, (trial, iters, raw)


# ---------------------------------------------------------------------------
# weighted shortest paths (bounded Bellman-Ford)
# ---------------------------------------------------------------------------


def _sssp(spark, edges, seeds, **kw):
    from tfx_addons_feast_examplegen_spark.operators.graph import sssp

    e = spark.createDataFrame(edges, "src: string, dst: string, w: double")
    s = spark.createDataFrame([(x,) for x in seeds], "node: string")
    return {r["node"]: r["dist"] for r in sssp(e, s, weight_col="w", **kw).collect()}


def test_sssp_hand_computed_relaxation(spark):
    # a -1-> b -1-> c plus a direct a -5-> c: the cheap 2-hop path
    # must undercut the expensive direct edge (strict improvement in
    # round 2 over round 1's dist)
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0)]
    got = _sssp(spark, edges, ["a"], max_rounds=3)
    assert got == {"a": 0.0, "b": 1.0, "c": 2.0}

    # hop bound binds: max_rounds=1 sees only the direct edge
    got1 = _sssp(spark, edges, ["a"], max_rounds=1)
    assert got1 == {"a": 0.0, "b": 1.0, "c": 5.0}

    # parallel edges collapse to their MIN
    got2 = _sssp(
        spark, edges + [("a", "b", 0.5)], ["a"], max_rounds=2
    )
    assert got2["b"] == 0.5 and got2["c"] == 1.5

    # multi-seed: min over seeds; seeds stay 0 even when re-reached
    got3 = _sssp(spark, edges, ["a", "c"], max_rounds=3)
    assert got3 == {"a": 0.0, "b": 1.0, "c": 0.0}

    # unreachable-within-bound nodes absent; max_rounds=0 -> seeds only
    got4 = _sssp(spark, edges, ["a"], max_rounds=0)
    assert got4 == {"a": 0.0}

    import pytest as _pytest

    from tfx_addons_feast_examplegen_spark.operators.graph import sssp

    with _pytest.raises(ValueError, match="max_rounds"):
        sssp(
            spark.createDataFrame(
                [("a", "b", 1.0)], "src: string, dst: string, w: double"
            ),
            spark.createDataFrame([("a",)], "node: string"),
            weight_col="w",
            max_rounds=-1,
        )


def test_sssp_matches_python_dijkstra_on_random_graphs(spark):
    # Independent Dijkstra (non-negative integral weights) over
    # deterministic pseudo-random digraphs. max_rounds = n guarantees
    # the hop-limited relaxation has converged to true shortest paths,
    # so the two algorithms must agree exactly.
    import heapq
    import random
    from collections import defaultdict

    rng = random.Random(1499)
    for trial in range(4):
        n = rng.randint(4, 12)
        nodes = [f"n{i:02d}" for i in range(n)]
        raw = {
            (rng.choice(nodes), rng.choice(nodes))
            for _ in range(rng.randint(n, 4 * n))
        }
        edges = [
            (a, b, float(rng.randint(1, 9))) for a, b in sorted(raw) if a != b
        ] or [(nodes[0], nodes[1], 2.0)]
        seeds = sorted(rng.sample(nodes, rng.randint(1, 2)))

        adj: dict[str, list[tuple[str, float]]] = defaultdict(list)
        best_edge: dict[tuple[str, str], float] = {}
        for a, b, w in edges:
            k = (a, b)
            if k not in best_edge or w < best_edge[k]:
                best_edge[k] = w
        for (a, b), w in best_edge.items():
            adj[a].append((b, w))
        dist = {s: 0.0 for s in seeds}
        pq = [(0.0, s) for s in seeds]
        heapq.heapify(pq)
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in adj[u]:
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))

        got = _sssp(spark, edges, seeds, max_rounds=n)
        assert got == dist, (trial, seeds, edges)


# ---------------------------------------------------------------------------
# k-core peeling
# ---------------------------------------------------------------------------


def _kcore(spark, edges, **kw):
    from tfx_addons_feast_examplegen_spark.operators.graph import kcore

    df = spark.createDataFrame(edges, "src: string, dst: string")
    return {
        r["node"]: r["degree"] for r in kcore(df, **kw).collect()
    }


def test_kcore_hand_computed_peel_and_cascade(spark):
    # triangle a-b-c with pendant d hanging off c, then e off d:
    # 2-core = the triangle (e peels first, then d CASCADES — its only
    # other neighbor was e); every survivor has degree 2
    tri = [("a", "b"), ("b", "c"), ("a", "c")]
    tail = [("c", "d"), ("d", "e")]
    got = _kcore(spark, _sym(tri + tail), k=2, max_rounds=5)
    assert got == {"a": 2, "b": 2, "c": 2}

    # k above the max degree -> empty core
    assert _kcore(spark, _sym(tri), k=3, max_rounds=3) == {}

    # 1-core of a connected graph = everything, degrees intact
    got1 = _kcore(spark, _sym(tri + tail), k=1, max_rounds=3)
    assert got1 == {"a": 2, "b": 2, "c": 3, "d": 2, "e": 1}

    # self-loops are discarded (a node must not certify itself)
    loop = _sym([("a", "b")]) + [("a", "a")]
    assert _kcore(spark, loop, k=2, max_rounds=3) == {}

    import pytest as _pytest

    from tfx_addons_feast_examplegen_spark.operators.graph import kcore

    e = spark.createDataFrame([("a", "b")], "src: string, dst: string")
    with _pytest.raises(ValueError, match="k must"):
        kcore(e, k=0)
    with _pytest.raises(ValueError, match="max_rounds"):
        kcore(e, k=1, max_rounds=0)


def test_kcore_matches_python_model_on_random_graphs(spark):
    # Independent peel-to-fixpoint model; max_rounds = n guarantees
    # convergence, so the exact k-core must come back.
    import random
    from collections import defaultdict

    rng = random.Random(1601)
    for trial in range(3):
        n = rng.randint(5, 14)
        nodes = [f"n{i:02d}" for i in range(n)]
        und = {
            tuple(sorted((rng.choice(nodes), rng.choice(nodes))))
            for _ in range(rng.randint(n, 4 * n))
        }
        und = {(a, b) for a, b in und if a != b} or {(nodes[0], nodes[1])}
        k = rng.randint(2, 3)

        adj = defaultdict(set)
        for a, b in und:
            adj[a].add(b)
            adj[b].add(a)
        alive = set(adj)
        while True:
            drop = {v for v in alive if len(adj[v] & alive) < k}
            if not drop:
                break
            alive -= drop
        expect = {v: len(adj[v] & alive) for v in alive}

        edges = [(a, b) for a, b in und] + [(b, a) for a, b in und]
        got = _kcore(spark, edges, k=k, max_rounds=n)
        assert got == expect, (trial, k, sorted(und))


# ---------------------------------------------------------------------------
# personalized pagerank
# ---------------------------------------------------------------------------


def test_ppr_mass_conservation_and_locality(spark):
    from pyspark.sql import functions as F

    from tfx_addons_feast_examplegen_spark.operators.graph import (
        personalized_pagerank,
    )

    # two triangles bridged by one edge; seed inside the first
    k1 = _sym([("a", "b"), ("b", "c"), ("a", "c")])
    k2 = _sym([("x", "y"), ("y", "z"), ("x", "z")])
    bridge = _sym([("c", "x")])
    e = spark.createDataFrame(k1 + k2 + bridge, "src: string, dst: string")
    s = spark.createDataFrame([("a",)], "node: string")
    r = personalized_pagerank(e, s, iterations=8)
    got = {row["node"]: row["rank"] for row in r.collect()}
    # sum(rank) == 1 invariant (no dangling nodes here)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # rank decays with distance from the seed: the seed tops its
    # clique-mates (b and c differ — c carries the bridge, so the two
    # are NOT symmetric), and the whole seed clique outranks the far
    # clique's interior nodes
    assert got["a"] > got["b"] > 0 and got["a"] > got["c"] > 0
    assert min(got["b"], got["c"]) > max(got["y"], got["z"])


def test_ppr_all_seeds_equals_uniform_pagerank(spark):
    # with S = V the teleport vector is uniform, so PPR must reproduce
    # standard PageRank exactly (same arithmetic, same iterations)
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        pagerank,
        personalized_pagerank,
    )

    edges = _sym([("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c")])
    e = spark.createDataFrame(edges, "src: string, dst: string")
    allnodes = spark.createDataFrame(
        [(x,) for x in "abcd"], "node: string"
    )
    pr = {r["node"]: r["rank"] for r in pagerank(e, iterations=5).collect()}
    ppr = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, allnodes, iterations=5).collect()
    }
    assert set(pr) == set(ppr)
    for v in pr:
        assert abs(pr[v] - ppr[v]) < 1e-12, v


def test_ppr_isolated_seed_and_dangling_recirculation(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        personalized_pagerank,
    )

    # seed 's' has no edges at all: it is pure dangling — its mass
    # recirculates to itself each round, so rank(s) stays positive and
    # the total stays 1 with the other component's teleport share 0
    e = spark.createDataFrame(_sym([("a", "b")]), "src: string, dst: string")
    seeds = spark.createDataFrame([("s",)], "node: string")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(e, seeds, iterations=4).collect()
    }
    assert set(got) == {"a", "b", "s"}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got["s"] == 1.0 and got["a"] == 0.0 and got["b"] == 0.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="seed"):
        personalized_pagerank(
            e,
            seeds.where("node = 'zzz'"),
            iterations=2,
        )


def test_pagerank_weighted_hand_and_equivalences(spark):
    from pyspark.sql import functions as F

    from tfx_addons_feast_examplegen_spark.operators.graph import pagerank

    # all-1 weights == unweighted, bit-identically — on a
    # duplicate-free edge list (duplicates COLLAPSE unweighted but
    # ACCUMULATE weighted, by design)
    edges = _sym([("a", "b"), ("b", "c"), ("c", "a")])
    u = spark.createDataFrame(edges, "src: string, dst: string")
    w1 = spark.createDataFrame(
        [(a, b, 1) for a, b in edges], "src: string, dst: string, w: long"
    )
    pu = {r["node"]: r["rank"] for r in pagerank(u, iterations=4).collect()}
    pw = {
        r["node"]: r["rank"]
        for r in pagerank(w1, weight_col="w", iterations=4).collect()
    }
    assert pu == pw

    # outflow splits proportionally: a sends 3/4 of its damped mass to
    # b and 1/4 to c (weights 3 vs 1); with one iteration from uniform
    # init the difference is exactly visible
    wd = spark.createDataFrame(
        [("a", "b", 3), ("a", "c", 1)], "src: string, dst: string, w: long"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(wd, weight_col="w", iterations=1).collect()
    }
    # n=3, rank0=1/3; b,c dangling -> dmass = 2/3
    # rank(b) = 0.15/3 + 0.85*((1/3)*(3/4) + (2/3)/3)
    exp_b = 0.05 + 0.85 * ((1 / 3) * 0.75 + (2 / 3) / 3)
    exp_c = 0.05 + 0.85 * ((1 / 3) * 0.25 + (2 / 3) / 3)
    assert abs(got["b"] - exp_b) < 1e-12
    assert abs(got["c"] - exp_c) < 1e-12
    assert abs(sum(got.values()) - 1.0) < 1e-12

    # parallel edges accumulate; zero/negative/NULL weights drop
    acc = spark.createDataFrame(
        [("a", "b", 2), ("a", "b", 1), ("a", "c", 3), ("a", "d", 0),
         ("a", "e", None)],
        "src: string, dst: string, w: int",
    )
    got2 = {
        r["node"]: r["rank"]
        for r in pagerank(acc, weight_col="w", iterations=1).collect()
    }
    assert set(got2) == {"a", "b", "c"}  # d, e dropped with their edges
    assert abs(got2["b"] - got2["c"]) < 1e-12  # 2+1 == 3


def test_degree_assortativity_hand_computed(spark):
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        degree_assortativity,
    )

    # star K1,3 symmetrized: every edge pairs degree 3 with degree 1 ->
    # both endpoint-degree series are constant per side but the pooled
    # directed representation has x in {3,1,1,1,...}: the correlation
    # is exactly -1 for a star
    star = _sym([("h", "a"), ("h", "b"), ("h", "c")])
    df = spark.createDataFrame(star, "src: string, dst: string")
    r = degree_assortativity(df).collect()[0]
    assert r["n_nodes"] == 4 and r["n_edges"] == 6
    assert r["assortativity"] == -1.0

    # perfect cycle: every degree 2 -> correlation undefined -> NULL
    cyc = _sym([("a", "b"), ("b", "c"), ("c", "a")])
    rc = degree_assortativity(
        spark.createDataFrame(cyc, "src: string, dst: string")
    ).collect()[0]
    assert rc["assortativity"] is None
    assert rc["n_nodes"] == 3 and rc["n_edges"] == 6

    # self-loops and duplicates drop before degree counting
    messy = star + [("h", "h"), ("h", "a")]
    rm = degree_assortativity(
        spark.createDataFrame(messy, "src: string, dst: string")
    ).collect()[0]
    assert rm["n_edges"] == 6 and rm["assortativity"] == -1.0


def test_degree_assortativity_directed_misuse_fails_loud(spark):
    # ADVICE r14: a destination with no out-edges exists only on
    # DIRECTED input — the old coalesce correlated against a fabricated
    # 0 degree, producing a plausible but wrong coefficient. The
    # symmetrized-input contract now fails LOUD in-plan instead.
    import pytest as _pytest
    from pyspark.errors import SparkRuntimeException

    from tfx_addons_feast_examplegen_spark.operators.graph import (
        degree_assortativity,
    )

    directed = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")],  # c is a sink
        "src: string, dst: string",
    )
    with _pytest.raises(SparkRuntimeException, match="SYMMETRIZED"):
        degree_assortativity(directed).collect()


def test_observation_early_exit_identical_under_oversized_round_budget(spark):
    # r15: the sssp/kcore early-exit counts ride their pin jobs as
    # Observation metrics instead of separate count jobs. The exits
    # must still fire at the true fixed point: a huge round budget
    # must return exactly the converged answer (a broken metric would
    # either spin extra no-op rounds — harmless but slow — or, worse,
    # exit EARLY with unconverged distances/degrees).
    edges = [("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0)]
    assert _sssp(spark, edges, ["a"], max_rounds=40) == _sssp(
        spark, edges, ["a"], max_rounds=3
    )

    # triangle + pendant: one peel drops the pendant, the triangle is
    # the fixed point — identical at the minimal and oversized budgets
    tri = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
           ("a", "c"), ("c", "a"), ("c", "d"), ("d", "c")]
    assert _kcore(spark, tri, k=2, max_rounds=40) == _kcore(
        spark, tri, k=2, max_rounds=2
    )


def test_smj_path_equals_broadcast_path(spark):
    # ADVICE r15 (low): the non-broadcast (100 TB / co-partitioned SMJ)
    # loop branches were dead at test scale — every score/frontier/
    # alive/label/rank frame fits the 10 MB default threshold. Disable
    # auto-broadcast (the test_bucketing precedent) so the measured
    # gates all take the merge path, and assert outputs are identical
    # to the broadcast-path outputs for every loop operator.
    import random

    from tfx_addons_feast_examplegen_spark.operators.graph import (
        bfs_levels,
        hits,
        kcore,
        label_propagation,
        personalized_pagerank,
        sssp,
    )

    rng = random.Random(7)
    edges = list({
        (f"n{rng.randrange(30)}", f"n{rng.randrange(30)}")
        for _ in range(120)
    })
    e = spark.createDataFrame(edges, "src: string, dst: string")
    ew = spark.createDataFrame(
        [(a, b, float((i % 5) + 1)) for i, (a, b) in enumerate(edges)],
        "src: string, dst: string, weight: double",
    )
    seeds = spark.createDataFrame([("n1",), ("n2",)], "node: string")

    def run_all():
        return {
            "pagerank": sorted(
                (r["node"], round(r["rank"], 9))
                for r in pagerank(e, iterations=3).collect()
            ),
            "hits": sorted(
                (r["node"], round(r["hub"], 9), round(r["authority"], 9))
                for r in hits(e, iterations=2).collect()
            ),
            "sssp": sorted(
                (r["node"], r["dist"])
                for r in sssp(ew, seeds, max_rounds=4).collect()
            ),
            "kcore": sorted(
                (r["node"], r["degree"])
                for r in kcore(e, k=2, max_rounds=4).collect()
            ),
            "bfs": sorted(
                (r["node"], r["level"])
                for r in bfs_levels(e, seeds, max_hops=4).collect()
            ),
            "lpa": sorted(
                (r["node"], r["label"])
                for r in label_propagation(e, iterations=2).collect()
            ),
            "ppr": sorted(
                (r["node"], round(r["rank"], 9))
                for r in personalized_pagerank(
                    e, seeds, iterations=3
                ).collect()
            ),
        }

    broadcast_out = run_all()
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        merge_out = run_all()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert merge_out == broadcast_out


def test_wide_string_ids_disable_broadcast_gate(spark):
    # ADVICE r15 (medium): F.broadcast is an unconditional hint, so the
    # measured gate must incorporate the OBSERVED id width — with wide
    # string ids, a row count that would fit at 64 B/row must refuse to
    # broadcast once the measured width pushes it past the threshold.
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        _bcast_fits,
        _count_and_width,
        _id_width_static,
        _WIDTH_MEASURE,
    )

    wide = spark.createDataFrame(
        [("x" * 5000, 1.0), ("y" * 5000, 2.0)], "node: string, rank: double"
    )
    assert _id_width_static(wide, "node") == _WIDTH_MEASURE
    n, w = _count_and_width(wide, "node")
    assert n == 2 and w == 5000
    # 2 rows * 64 B would "fit" a 1 KB threshold; 2 * (64 + 5000) must not
    assert _bcast_fits(2, 1024, 0)
    assert not _bcast_fits(2, 1024, w)
    # un-sizable id types and unknown counts never broadcast
    assert not _bcast_fits(2, 1024, None)
    assert not _bcast_fits(None, 1 << 30, 0)
    # numeric ids stay covered by the 64 B/row over-estimate, no extra job
    nums = spark.createDataFrame([(1, 1.0)], "node: bigint, rank: double")
    assert _id_width_static(nums, "node") == 0


def test_size_bytes_suffixes_and_unparseable():
    # ADVICE r15 (low): petabyte suffix parses; garbage degrades to
    # "broadcast disabled" (0) instead of crashing the operator.
    from tfx_addons_feast_examplegen_spark.operators.graph import _size_bytes

    assert _size_bytes("10485760b") == 10 << 20
    assert _size_bytes("10MB") == 10 << 20
    assert _size_bytes("1pb") == 1 << 50
    assert _size_bytes("1p") == 1 << 50
    assert _size_bytes("-1") == -1
    assert _size_bytes("not-a-size") == 0
    assert _size_bytes("") == 0
    assert _size_bytes("1e400g") == 0  # float overflow, not a crash


def test_reliable_loop_checkpoints_flag(spark, tmp_path):
    # VERDICT r15 item 10: the escape hatch routes loop pins to
    # reliable checkpoint() storage (fault-tolerant at 100 TB) without
    # changing a single result; default off keeps localCheckpoint.
    from tfx_addons_feast_examplegen_spark.operators.graph import sssp

    ew = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 2.0), ("a", "c", 5.0)],
        "src: string, dst: string, weight: double",
    )
    seeds = spark.createDataFrame([("a",)], "node: string")
    base = sorted(
        (r["node"], r["dist"]) for r in sssp(ew, seeds, max_rounds=3).collect()
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        spark.conf.set("spark.graft.graph.reliableLoopCheckpoints", "true")
        reliable = sorted(
            (r["node"], r["dist"])
            for r in sssp(ew, seeds, max_rounds=3).collect()
        )
    finally:
        spark.conf.unset("spark.graft.graph.reliableLoopCheckpoints")
    assert reliable == base == [("a", 0.0), ("b", 1.0), ("c", 3.0)]


def test_pre_collapsed_certificates_identity(spark):
    # r16 certificates: on already-collapsed inputs the certified call
    # must return exactly what the uncertified call returns.
    from tfx_addons_feast_examplegen_spark.operators.graph import (
        bfs_levels,
        label_propagation,
        personalized_pagerank,
    )

    e = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("b", "a")],
        "src: string, dst: string",
    )
    seeds = spark.createDataFrame([("a",)], "node: string")
    assert sorted(
        (r["node"], round(r["rank"], 9))
        for r in pagerank(e, iterations=3, pre_collapsed=True).collect()
    ) == sorted(
        (r["node"], round(r["rank"], 9))
        for r in pagerank(e, iterations=3).collect()
    )
    assert sorted(
        (r["node"], r["level"])
        for r in bfs_levels(e, seeds, max_hops=3, pre_distinct=True).collect()
    ) == sorted(
        (r["node"], r["level"])
        for r in bfs_levels(e, seeds, max_hops=3).collect()
    )
    assert sorted(
        (r["node"], r["label"])
        for r in label_propagation(
            e, iterations=2, pre_collapsed=True
        ).collect()
    ) == sorted(
        (r["node"], r["label"])
        for r in label_propagation(e, iterations=2).collect()
    )
    assert sorted(
        (r["node"], round(r["rank"], 9))
        for r in personalized_pagerank(
            e, seeds, iterations=3, pre_distinct=True
        ).collect()
    ) == sorted(
        (r["node"], round(r["rank"], 9))
        for r in personalized_pagerank(e, seeds, iterations=3).collect()
    )
