"""The caller-managed-persist set is pinned (round-11 VERDICT task 4).

Every .persist()/.cache() call whose enclosing function never releases it
relies on Spark's LRU storage eviction (plus the bench harness's clearCache
between reps) for reclamation — acceptable per-site, but a slow leak in a
long-lived shared session if the set grows silently.  This test pins the
set: adding an unreleased persist without a written rationale in
tools/plan_audit.py:UNRELEASED_PERSIST_BY_CONTRACT fails here (and FLAGs in
PLANSCAN), as does leaving a stale rationale behind after a site is fixed.

Pure AST — no SparkSession needed.
"""

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from plan_audit import (  # noqa: E402
    MIXED_PERSIST_RELEASE_BY_CONTRACT,
    UNRELEASED_PERSIST_BY_CONTRACT,
    persist_audit,
)


def test_unreleased_persists_exactly_match_contract():
    sites, flags = persist_audit()
    assert flags == [], "\n".join(flags)
    assert set(sites) == set(UNRELEASED_PERSIST_BY_CONTRACT)


def test_pinned_totals():
    # The numbers the round-11 verdict counted (8 named sites) plus the
    # three the sweep found that it didn't enumerate (components ×2,
    # split_corrupt, ivf_topk — see PLANSCAN), MINUS the threshold-pairs
    # site: the r14 sf10-probe restructure replaced its band self-join
    # with a per-bucket GEMM prefilter, so the signature frame is consumed
    # once and the persist was removed outright.  PLUS one in r15: pagerank
    # persists `deg` alongside the partition-aligned `edges` cache (the
    # degree table previously re-aggregated the full edge list once per
    # consumer — see the graph.py rationale).  If this moves, the PLANSCAN
    # section and a rationale must move with it — that's the point.  r15
    # also added the two prefix-sum operator caches (grouped_prefix_sum /
    # global_prefix_sum — three driver-action passes each, see merge.py),
    # and REMOVED the ivf_topk cache: the broadcast-array rewrite made
    # cluster assignment map-only, so there is no shared shuffled frame
    # left worth keeping (recomputing a map-only projection per consumer
    # is cheaper than materializing the ×n_centroids relation it replaced).
    # r15 also added q_semdedup's `ev` persist — four consumers read the
    # assignment projection whose k×dim argmin fold is the expensive
    # column (see the pipeline3 rationale).
    # r16: the two prefix-sum operators moved from the unreleased to the
    # MIXED set — their empty-input early returns now release the cache
    # (r15 ADVICE leak fix), so both net to zero and are adjudicated in
    # MIXED_PERSIST_RELEASE_BY_CONTRACT instead.  (A r16 shingle-index
    # persist in q_dedup_two_stage was tried and REVERTED on the sf1 A/B —
    # the cache write cost more than the streamed re-derivations it saved.)
    sites, _ = persist_audit()
    assert len(sites) == 10
    assert sum(sites.values()) == 12  # connected_components and pagerank hold two


def test_every_contract_rationale_is_substantive():
    for site, why in UNRELEASED_PERSIST_BY_CONTRACT.items():
        assert len(why) > 40, f"{site}: rationale too thin to adjudicate"
    for site, why in MIXED_PERSIST_RELEASE_BY_CONTRACT.items():
        assert len(why) > 40, f"{site}: rationale too thin to adjudicate"


def test_mixed_persist_release_set_is_pinned():
    # Functions with BOTH persist and unpersist calls could hide a
    # persist-A/release-B mismatch behind a zero net (round-12 ADVICE);
    # each is adjudicated by reading the release target.  persist_audit
    # flags any drift (unlisted mixed fn / stale entry) — covered by
    # test_unreleased_persists_exactly_match_contract's empty-flags assert —
    # so here we just pin the set so additions are a conscious edit.
    assert set(MIXED_PERSIST_RELEASE_BY_CONTRACT) == {
        "operators/merge.py:grouped_prefix_sum",
        "operators/merge.py:global_prefix_sum",
        "operators/selection.py:exact_group_kth",
        "pipeline/components.py:connected_components_star",
        "queries/pipeline6.py:q_coreset_fps",
    }
