"""Regenerate docs/PLANS.md: annotated physical plans for key operators.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, "/root/repo")

from tfx_addons_feast_examplegen_spark.plans.explain import plan_summary, plan_text
from tfx_addons_feast_examplegen_spark.queries import queries
from tfx_addons_feast_examplegen_spark.session import get_spark, register_tables

COMMENT = {
    "pit_join": """The core operator. Reading the plan bottom-up: the spine's distinct
lands ONE Exchange on (user_id, ts); the candidate as-of join is a
BroadcastHashJoin at this scale (AQE picks SMJ on large feature tables —
the equi conjunct on user_id drives that shuffle); latest-wins dedup is
partial_max_by -> max_by back-to-back with NO intervening Exchange
(Catalyst reuses the spine partitioning), and its key-only Sort is reused
verbatim by the final SortMergeJoin back onto the entity rows. Filters
(IsNotNull) are pushed to the parquet scans; only needed columns are read
(ReadSchema).""",
    "q5_region_revenue": """Star join: region/nation/supplier are auto-broadcast (no shuffle on the
fact side until the aggregation); the lineitem scan prunes to 4 columns.""",
    "dedup_ngram_jaccard": """Capped shingle self-join: the join key IS the (hashed) shingle, so
documents sharing no shingle never pair. Over-cap shingle buckets are
computed by a map-side-combinable count aggregate (the sizes shuffle
moves one row per distinct shingle per mapper) and removed via a
broadcast left-anti join applied to a SINGLE pruned frame that feeds
BOTH sides of the self-join — the shared subtree becomes a
ReusedExchange, so the prune (and the scan under it) is paid once, and
per-task memory stays flat (no bucket is ever materialized as an
array). All aggregates are partial/final pairs.""",
    "similarity_topk": """Query batch broadcast against the corpus scan: the corpus never
shuffles for scoring; the only Exchange is the per-query top-k window.
The BroadcastNestedLoopJoin here is intentional and correct: exact
brute-force scoring IS every (query, corpus) pair, the broadcast side is
the tiny query batch, and the corpus side streams one pass — unlike a
pair-search operator, there is no candidate structure to exploit. (The
pair-search operators — embedding_neardup, dedup_* — use equi-join
candidates instead; see below.)""",
    "dedup_minhash_lsh": """LSH banding: one cached shingle scan feeds signature mins AND the
exact-Jaccard verification; shingle-set sizes ride the same aggregation
as the signature (one hash-agg pass). Candidates come from an equi-join
on (band_id, band_hash) — no cross join anywhere in the tree.""",
    "dedup_containment": """Same capped self-join shape as jaccard_pairs (shuffle on the hashed
shingle key, broadcast anti-join cap prune); only the score denominator
differs (min set size instead of union size), so the asymmetric
short-in-long case adds no new plan risk.""",
    "text_tfidf_topterms": """One token explode feeds both the per-(doc, term) tf aggregation and
the per-term document frequency; df joins back on the term key and the
corpus size N arrives as a one-row broadcast. The final top-k window
partitions by doc id — the same key as tf — so AQE coalesces the
exchange.""",
    "chunk_documents": """RAG chunking is a pure flat-map: tokenize once, generate window
starts with sequence, slice + explode — ZERO exchanges, so chunking
runs at full scan parallelism and composes with any downstream stage
without a shuffle boundary.""",
    "negative_sample": """Deterministic negatives without a cross join: users and items meet in
an equi-join on their shared fingerprint bucket (candidate space =
|items|/n_buckets per user), positives leave via anti-join, and the
per-user top-k window ranks by a pairwise fingerprint — RNG-free and
replayable.""",
    "dedup_incremental": """Cross-corpus ingest dedup: batch and corpus band frames meet in a
plain equi-join on (band_id, band_hash) — the batch side is small and
broadcasts, so the corpus probes in place. Verification joins only
candidate ids back to the two shingle sets. The materialized-index
variant (dedup_incremental_indexed) replaces the corpus-side subtree
with parquet scans of the stored artifacts; the probe join is
identical.""",
    "embedding_neardup": """Exact all-pairs cosine as a blocked triangle join: both sides explode
to (block_i, block_j) pair keys and meet in a plain hash equi-join on
the key — NO BroadcastNestedLoopJoin/CartesianProduct anywhere. Work
spreads evenly over n_blocks*(n_blocks+1)/2 independent key groups;
per-vector norms are computed once before replication.""",
    "zorder_layout": """Morton key arithmetic is one flat Project of shift/mask terms inside
WholeStageCodegen over the scan — zero joins, one Exchange for the
bucket aggregate. The clustering path (cluster_by_zorder) adds only a
RangePartitioning exchange on the key: layout costs one shuffle, and
every later multi-dimensional range scan pays less.""",
    "skew_salted_join": """The salt rewrite in plan terms: the big side gains one projected
column (no extra shuffle volume), the small side's explode multiplies
it n_salts times BEFORE its exchange, and the join key becomes
(key, salt) — so a hot key hashes to n_salts distinct partitions by
construction, independent of AQE's runtime skew detection.""",
    "dedup_exact_substring": """ExactSubstr without a suffix array: positional seed-grams meet in a
capped self-equi-join on the hashed gram key (both sides are the SAME
pruned subtree — the degenerate-gram broadcast anti-prune and the scan
under it are paid once via ReusedExchange, exactly the jaccard shape),
then runs assemble with ONE window shuffle on (doc_a, doc_b, diagonal)
and map-side-combinable aggregates. No nested-loop joins anywhere; the
quadratic blowup is bounded by gram co-occurrence and the cap.""",
    "contrastive_hard_negatives": """Same intentional BroadcastNestedLoopJoin as similarity_topk: the
build side is the tiny query batch (with labels), the corpus streams
one pass, and the label-inequality predicate rides the join so
same-label rows die before the per-query top-k window — the only
Exchange in the tree. Exact scoring IS every (query, corpus) pair;
there is no candidate structure to exploit.""",
    "nearest_event_join": """merge_asof('nearest') as an equi-join: the mandatory tolerance
becomes the bucket key (floor(us/tol)), features land in ONE bucket,
entities probe three — so the join is a plain hash equi-join on
(keys, bucket) and a hot key pairs each row with at most three
tolerance windows of history. The range predicate and the
best-candidate window run over that bounded candidate set.""",
    "bm25_ranked_search": """One token explode feeds document lengths, term hits, and document
frequencies; N/avgdl arrive as a 1-row broadcast (the single
nested-loop join — a 1-row literal build side). Per-term scores floor
to integers BEFORE the per-doc sum, so the plan can aggregate in any
order on any partitioning.""",
    "dedup_jaccard_prefix_filter": """The PPJoin alternative to the full bucket explode: a global
document-frequency join + per-doc window selects each set's rare-first
prefix, only prefixes enter the capped self-join, and the exact verify
joins candidates back to the FULL pinned shingle sets. More exchanges
than the explode (the df join and window are extra stages) — its win
is exactness without caps on boilerplate-heavy corpora, not raw speed
on rare-shingle ones (measured trade in the operator docstring).""",
    "pit_join_union_window": """The linear-per-key as-of strategy, point_in_time_join(strategy=
"union_window"). The feature and spine streams Union into ONE hash
Exchange on the join key; a single Sort by
(key, ts, side, created) feeds a Window whose running RowFrame
(UNBOUNDED PRECEDING .. CURRENT ROW last(ignorenulls)) carries the
newest payload onto each spine row in O(n) per partition — no
candidate-pair join exists anywhere in the tree (sort_merge_joins: 0),
which is the point: pair enumeration is what goes quadratic on a hot
key, and AQE's byte-based skew detection cannot see it
(scripts/scale_probe_pit_skew.py). The final re-attachment onto the
entity rows is a plain equi-join on (key, ts) — broadcast at small
scale, shuffled SMJ at sf0.1+ — and carries no range condition, so it
never amplifies.""",
    "bloom_prejoin_filter": """Runtime-filter join reduction made explicit. The probe side carries NO
join operator and NO exchange for the bitmap at all: the sparse
(word, bits) build rows — at most n_bits/64 of them, a plan parameter
like a join threshold — are densified driver-side and embedded as an
array literal, so membership is a pure map-side Filter inside codegen
on the scan partitioning, shrinking the downstream join exchange by
the filter's selectivity. The bitmap-build subtree is the only thing
that shuffles (word-grouped bit_or, map-side combinable). Two
rejected designs are measured in scripts/scale_probe_rowid_bloom.py:
the one-row broadcast attach (BNLJ memcpy'd the bitmap into every
joined row) and executor-side densify (interpreted element_at over a
one-row map is O(n_words) per lookup). At 100 TB the bitmap stays
n_bits/8 bytes regardless of build-key count — the point vs an
IN-list.""",
    "global_row_ids": """Contiguous-id assignment with the global sort decomposed away. The
assignment job is ONE hash Exchange on the frozen bucket id plus an
in-bucket Sort feeding a per-bucket row_number Window — no
SinglePartition exchange anywhere (the naive global ROW_NUMBER plans
exactly that, and at 100 TB that one-task sort never finishes). The
quantile-boundary and bucket-count passes are separate parameter jobs
(O(buckets) driver state), embedded as literals so both passes agree
deterministically.""",
    "html_text_extract": """The crawl-pipeline map stage: the whole extraction is one Project of
chained regexp_replace/replace expressions inside a single
WholeStageCodegen span over the scan — zero exchanges, zero UDFs.
This is the shape that matters at 100 TB: extraction cost scales with
scan bandwidth and nothing else.""",
    "graph_pagerank": """The tree below is, by construction, just the scan of the final
checkpointed rank frame: the loop re-materializes ranks each round via
localCheckpoint so iteration k's plan stays O(1) deep instead of
embedding k copies of the join tree (without the pin, planning time
and recovery cost grow without bound). Each ROUND's plan — visible in
the Spark UI per job — is: edge×rank contribution join shuffling on
the join key, dst aggregation reusing that exchange, and the
dangling-mass scalar riding in as a one-row broadcast. Rank state is
~|V| rows, small against the edge frame, which is re-read each
iteration from its pinned materialization rather than re-derived from
the base tables.""",
    "fuzzy_editdist_pairs": """PassJoin: the candidate generator is an ordinary shuffled EQUI-join on
(segment slot, exact segment text) — segment/window enumeration is a
Generate (explode) over nested transform/sequence expressions feeding
it, all codegen until the explode. Candidates carry ids only; the two
joins above re-attach document text on the DISTINCT candidate set
(output-sized, not corpus-sized) before the banded levenshtein(_,_,k)
verify Filter. The short-string pool rides a broadcast join whose
build side is length-filtered to < k+1 chars — bounded by
construction. No CartesianProduct anywhere (pytest-guarded).""",
    "dedup_segments": """CCNet-style sub-document dedup in exactly two aggregate shuffles: the
winner per distinct segment is a partial_min(struct(doc_id, seg_idx))
-> min hash-agg — map-side combinable, so a boilerplate segment with a
billion occurrences contributes one partial per mapper and no task's
input scales with hot-key count (the row_number-over-segment spelling
would sort all of them in ONE task) — and in raw-string mode the
winner rows already carry the segment text, so reassembly
(array_sort(collect_list) per doc) consumes them directly with no join
back. n_segs is segmentation arithmetic projected off the source scan,
not a counted aggregate.""",
    "token_budget_select": """Greedy budget selection with the global sort decomposed away: the
selection frame is a UNION of pure Filters (buckets wholly under
budget — no Sort, no Window) plus ONE bucket-scoped Window for the
boundary bucket, partitioned on the frozen-literal bucket id —
~N/num_buckets rows, one task's worth by construction. The naive
SUM-OVER(ORDER BY) spelling plans a SinglePartition exchange Spark
itself warns about; measured 2.3x slower at 60M rows locally and
unrunnable at cluster scale (scripts/scale_probe_newops_r10.py).
Boundary/count passes are O(num_buckets) parameter jobs embedded as
literals.""",
    "semantic_dedup": """SemDeDup over real spherical-k-means training (the registry entry
trains 16 cells; past ASSIGN_INDEX_AUTO_CELLS the auto rule swaps the
assignment subtree for the two-stage index — same downstream shape).
Reading bottom-up: assignment is a narrow projection over the
embeddings scan (the k x dim quantizer rides the expression only for
the argmax, where every cell is consumed); centroid_sim arrives by a
BROADCAST JOIN against the k-row centroid table — round 12 replaced
the element_at(<k x dim literal>, cell+1) spelling, whose giant
literal fell out of codegen into per-row interpreted evaluation past
~1-2k cells (measured 13x at 2048 cells, docs/BENCH_NOTES_r12.md).
Within-cluster candidate pairs come from the capped _bucket_pairs
self-equi-join on the cluster id (ReusedExchange on the shared
subtree), and the suppression verdict joins back on the id — the only
corpus-keyed shuffles are the bucket join and that final left join.""",
    "sketch_countmin": """Frequency sketch in one combinable aggregate: the build side is
explode(depth) feeding partial_count -> count grouped on (row, bucket)
— the shuffle is capped at depth x width partial rows per mapper
regardless of key cardinality (probed 2.4x faster than the exact
groupBy at 10M distinct keys, and the gap is structural). The estimate
probe joins the parameter-sized grid via BroadcastHashJoin (plan-
guarded: no SortMergeJoin) and min-reduces over rows.""",
    "graph_bfs_levels": """The tree below is the scan of the final checkpointed visited frame
(same O(1)-lineage pinning as pagerank). Each ROUND's plan — visible
per job in the UI — is: frontier-edge equi-join (the frontier side
shrinks toward the unreached region and broadcasts when narrow), a
distinct, and a broadcast left-anti join against visited; the only
driver value per round is the frontier count for early termination.
Rounds are bounded by max_hops, state by O(|V|) rows.""",
    "interval_containment_join": """The range join rewritten as an equi-join: the interval side carries a
Generate (explode of the covered-bin sequence, with the in-plan
over-cap assert inside the sequence bound), both sides hash-exchange
on the bin, and the exact lo <= ts < hi predicate rides the join
condition — no BroadcastNestedLoopJoin, no CartesianProduct
(pytest-guarded). Probed 10.7x faster than the BNLJ spelling at
10M points x 10k intervals; BNLJ cost is points x intervals, this is
points + matches.""",
    "graph_hits": """The tree below is the scan of the two final rescaled score frames
joined on node (same O(1)-lineage checkpoint pinning as pagerank).
Each HALF-STEP's plan — per job in the UI — is one score-frame ×
edge-frame equi-join plus one sum keyed on the receiving endpoint;
the L2 norms are 1-row aggregates attached by broadcast, never a
collect. Score state is ~|V| rows against an edge frame re-read from
its pinned materialization; end-only normalization keeps every
intermediate an exact integer (all-ones init), which is what lets the
DuckDB oracle reproduce the arithmetic bit-for-bit before the single
final sqrt+divide.""",
    "contamination_report": """Graded decontamination with the corpus on the cheap side of every
edge: benchmark shingles (tiny by the decontaminate premise) broadcast
into the corpus-shingle probe join, the (doc, bench) overlap count is
one map-side-combinable hash aggregate, and per-example totals attach
by a second broadcast. The 100 TB corpus is scanned once and nothing
shuffles keyed on its size — the exchanges move only surviving pair
counts.""",
    "graph_label_propagation": """The tree below is the scan of the final checkpointed label frame
(same O(1)-lineage pinning as pagerank/hits/bfs). Each ROUND's plan —
per job in the UI — is: label×edge equi-join shuffling on the join
key, the (node, label) vote aggregate reusing that exchange, a
row_number pick partitioned on the receiving node, and a left join
back onto the previous labels for the no-in-neighbor fallback. Label
state is O(|V|) rows; the edge frame is re-read each round from its
pinned materialization. Synchronous + smallest-label tie-break is what
makes the answer a pure function of the graph — the property the
unrolled oracle depends on.""",
    "graph_label_propagation_weighted": """Weighted LPA: identical round shape to graph_label_propagation —
label×edge equi-join, (node, label) vote aggregate reusing the join
exchange, row_number pick, fallback left join — with the vote tally a
SUM of the edge weight instead of a COUNT. Parallel (src, dst) edges
pre-accumulate in the one-time edge normalization aggregate (also where
unweighted dedups), so per-round cost is byte-identical to the
unweighted entry: the weight rides the pinned edge frame as one extra
long column. Integral weights keep the sums exact, preserving the
determinism the unrolled oracle replays.""",
    "graph_sssp": """The tree below is the scan of the final checkpointed best-distance
frame (O(1)-lineage pinning, the pagerank rationale). Each ROUND —
one job in the UI — is bounded Bellman-Ford relaxation: the CURRENT
improvement frontier equi-joins the pinned edge frame, the candidate
distances pre-combine in a map-side min() keyed on the destination
(the round's relaxations shrink to one row per touched node BEFORE the
shuffle), and a join against the running best keeps strict
improvements only — a settled region generates no frontier rows and
costs nothing in later rounds. State is O(|V|); parallel edges
collapsed to min weight once, up front. The hop-limited semantics
(min cost over paths of <= max_rounds edges) is exactly what the
oracle's unrolled relaxation computes, so the answer is
oracle-checkable without convergence assumptions.""",
    "graph_kcore": """The tree below is the scan of the final degree frame. Each PEEL —
one job — is a map-side-combinable degree aggregate plus two
semi-joins filtering the edge frame to surviving endpoints; the edge
frame re-materializes via localCheckpoint (O(1) lineage) and SHRINKS
monotonically, so later rounds cost less. The only driver value per
round is the dropped-node count (early exit at the fixed point, where
further peels are provably no-ops — which is why the bounded-round
answer is oracle-checkable). The 100 TB story: degree aggregates
pre-combine per mapper; nothing holds a neighborhood in memory.""",
    "graph_pagerank_personalized": """Identical per-iteration plan to graph_pagerank — one contributions
shuffle keyed on the receiving node + a 1-row dangling-mass broadcast
— with the teleport vector concentrated on the seed set: the seed
indicator rides the pinned node frame as one boolean column, so
personalization costs NOTHING over the uniform operator. Seeds
outside the edge list stay in the node universe holding their
teleport share (isolated = pure dangling recirculation), which is
what makes sum(rank) == 1 an invariant the oracle can replay.""",
    "text_char_ngram_entropy": """One corpus scan: the gram stream position-explodes (narrow,
whole-stage codegen), the (doc, gram) count aggregate is the single
wide shuffle (repeated grams pre-collapse map-side), and the per-doc
entropy reduce runs over one row per DISTINCT gram — bounded by
alphabet^n, far below token volume. The algebraic entropy form
(log2 T - sum c*log2 c / T) keeps the inner sum a plain aggregate;
no per-doc probability vector ever materializes, no UDF.""",
    "score_drift_ks": """Drift audit in one corpus pass: the snapped (value, group) count
aggregate is the only corpus-sized job (map-side combinable — at most
2 x 10^decimals partials per mapper ride the exchange); the
group-name bookkeeping, the 2-group contract guard (in-plan
raise_error gating the statistic itself, so it cannot be pruned), and
the cumulative-ECDF window all run on the grid frame, provably
bounded by 2 x 10^decimals rows — the calibration_bins
single-partition-window contract. Nothing data-sized reaches the
driver.""",
    "graph_pagerank_weighted": """Same per-iteration plan as graph_pagerank — one contributions
shuffle keyed on the receiving node + a 1-row dangling-mass broadcast
— with outflow split proportional to edge weight: the weight and the
out-weight-sum ride the pinned edge frame, so the weighted variant
costs NOTHING over uniform. Parallel edges pre-accumulate in the
one-time edge normalization; non-positive weights drop there too (a
zero-weight edge must not count toward the split).""",
    "graph_degree_assortativity": """One-pass structural QA: a distinct + combinable degree aggregate,
then the edge frame re-joins the degree frame on each endpoint (two
AQE-balanced equi-joins) into a single guarded co-moment aggregate —
covar_pop/(stddev_pop*stddev_pop), NULL-guarded because ANSI corr()
raises DIVIDE_BY_ZERO on a constant degree side (perfect cycle).
Nothing iterative, nothing on the driver beyond the node count.""",
    "score_drift_qq": """Same corpus economics as score_drift_ks — ONE map-side-combinable
(value, group) count aggregate is the only corpus-sized job — then
the cumulative ECDFs, the broadcast 5-row quantile frame, and the
min-over-threshold quantile picks all run on the grid frame (bounded
by 2 x 10^decimals rows). Type-1 quantiles with a plain >= compare:
both engines derive the ECDF fraction from the same exact-long
division, so no epsilon is needed for the oracle to replay it.""",
    "curriculum_interleave": """Stride-scheduled epoch order with NO global Window: per-source
ranks come from the grouped row-id decomposition (frozen global
quantile boundaries as literals, per-(source, bucket) offsets
collected as O(groups x buckets) scalars, one hash exchange on
(source, bucket) + a DISTRIBUTED in-bucket sort), then the position
is codegen arithmetic on the rate literals. The output carries the
sort KEY — consumers ORDER BY pos as a distributed range sort — so a
source holding 90% of a 100 TB corpus never funnels through one
task at any step.""",
    "lang_quality_mi": """All four statistics (MI, both entropies, NMI) off ONE corpus scan:
the joint (a, b) count aggregate is the only corpus-sized job
(map-side combinable); the marginal counts attach as windows over the
JOINT frame — bounded by |A| x |B| rows for categorical columns —
using the identity sum_pairs c*log2(c_a) = sum_a c_a*log2(c_a), so no
second aggregate or join-back ever touches the corpus. The final
1-row reduce is driver-free arithmetic.""",
    "subset_max_coverage": """Greedy facility-location selection: the distinct (doc, shingle)
frame below is built once and PINNED (the k rounds reuse it); each
round is one broadcast ANTI-join against the covered set (at most k
documents' shingles — tiny), one map-side-combinable gain aggregate,
and a 1-ROW argmax collect. Driver traffic is k single-row
parameters, never data. The tree shown is the k-row result frame
(the operator is eager by construction — each round's pick feeds the
next round's anti-join).""",
    "cdc_chunking": """Content-defined chunking in ONE exchange: tokens position-explode
(narrow), the rolling gram assembles with lag() and the boundary flag +
running boundary count are windows over the SAME partition-by-document
ordering, and the final groupBy(doc, chunk_idx) is satisfied by that
hash partitioning (clustered-distribution subset) — Catalyst plans no
second exchange for the re-assembly. At 100 TB the cost is the token
explode plus exactly one shuffle of (doc, pos, tok); chunk hashes are
then the cross-revision dedup key, which is the whole point of CDC over
fixed-stride windows.""",
    "score_calibration_ece": """Calibration audit in one pass: the bin aggregate is map-side
combinable (n_bins partials per mapper ride the exchange, not rows)
and the ECE scalar is a global WINDOW over the resulting <= n_bins-row
bin frame — deliberately not an aggregate-and-join-back, which would
re-derive the bin aggregate from a second full corpus scan (the
multi-consumer defect class; the single-partition window is free at
n_bins rows). Scoring is pure scan-time expression (quality_score), so
the whole audit consumes the corpus subtree exactly once.""",
    "bpe_encode": """Tokenizer application as a map: the merge table is rank-ordered plan
LITERALS driving chained aggregate() folds — the whole encode is one
Project over the scan, zero exchanges, zero UDFs, zero joins. The
learn step (bpe_pair_merges) runs once as a parameter job; encoding
cost scales with scan bandwidth and rule count only — the shape a
100 TB corpus pass needs.""",
}

FOOTER = """## Round-8 DataFrame conversions (former identical-SQL entries)

Audited shapes at conversion time (sf0.001, locked by
`tests/test_plans.py`):

- `window_topk_running` — **2 exchanges**: one hash partition by
  `c_mktsegment` feeding a single window sort shared by BOTH frames
  (row_number rank + running sum over the same ordering), then the
  presentation orderBy's range exchange. Scan pruned to
  `c_custkey, c_acctbal, c_mktsegment`.
- `event_funnel` — **2 exchanges, zero joins**: conditional-min step
  times per user are one hash aggregate (map-side partials over the
  events scan), the three step counts a 1-row reduce. The
  funnel-by-3-self-joins shape would shuffle the 100 TB events table
  three times; this shuffles the per-user partial aggregate once.
- `column_correlations` — **1 exchange**: three algebraic `corr()`
  co-moment aggregates computed in a single map-side-combined pass,
  scan pruned to the three measure columns; the only exchange carries
  32 partial co-moment rows to the 1-row reduce.
"""

HDR = """# Physical plans (generated)

Operator trees captured from `df.explain(\"formatted\")` at sf0.1 on
local[32] with AQE enabled, with commentary on why each shape is the one
we want at 100 TB. Regenerate with `python scripts/dump_plans.py`.
"""


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark("dump_plans")
    register_tables(spark, sf_dir)
    qs = queries()
    sections = []
    from tfx_addons_feast_examplegen_spark.operators import pit_join

    for name, comment in COMMENT.items():
        # Record WHICH physical as-of shape produced this plan. Only
        # materialize_features records a choice; an entry that calls
        # point_in_time_join(strategy=...) itself names it in its comment,
        # so clear the previous entry's choices first.
        pit_join._LAST_STRATEGY_CHOICES.clear()
        df = qs[name](spark, sf_dir)
        tree = plan_text(df).split("\n\n", 1)[0]
        s = plan_summary(df)
        choices = pit_join.last_strategy_choices()
        strat_line = (
            "As-of strategy chosen per view: "
            + ", ".join(f"{v}={st}" for v, st in sorted(choices.items()))
            + "\n\n"
            if choices
            else ""
        )
        sections.append(
            f"## {name}\n\n{comment}\n\n{strat_line}"
            f"Summary: {s['exchanges']} exchanges, "
            f"{s['broadcast_hash_joins']} broadcast joins, "
            f"{s['sort_merge_joins']} sort-merge joins, "
            f"pushed filters: {s['pushed_filters']}\n\n"
            f"```\n{tree.strip()}\n```\n"
        )
    out = os.path.join(os.path.dirname(os.path.dirname(__file__)), "docs", "PLANS.md")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    # MERGE, don't clobber: PLANS.md has accreted hand-written sections
    # (scale-probe findings, operators added after this script's COMMENT
    # dict) that a from-scratch rewrite silently drops — round 12 lost
    # and restored three of them. Preserve every existing "## name"
    # section this run didn't regenerate, in original order.
    regenerated = {name for name in COMMENT}
    preserved = []
    if os.path.exists(out):
        body = open(out).read()
        chunks = body.split("\n## ")
        for ch in chunks[1:]:
            name = ch.split("\n", 1)[0].strip()
            if name not in regenerated:
                preserved.append("## " + ch.rstrip() + "\n")
    # FOOTER (the Round-8 conversions audit) is hand-audited content
    # this script owns: on a fresh checkout (or if PLANS.md was
    # removed) there is no existing section to preserve, so append it
    # whenever neither the regenerated nor the preserved set carries
    # its heading — otherwise a regeneration silently drops it.
    footer_name = FOOTER.split("\n", 1)[0].removeprefix("## ").strip()
    preserved_names = {
        p.split("\n", 1)[0].removeprefix("## ").strip() for p in preserved
    }
    if footer_name not in regenerated | preserved_names:
        preserved.append(FOOTER.rstrip() + "\n")
    pieces = sections + preserved
    with open(out, "w") as f:
        f.write(HDR + "\n" + "\n".join(pieces) + "\n")
    print(
        f"wrote {out} ({len(sections)} regenerated, "
        f"{len(preserved)} preserved)"
    )


if __name__ == "__main__":
    main()
