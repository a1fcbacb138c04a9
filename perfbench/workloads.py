"""Workload definitions: which queries, in what order, on which data.

Every query is called through `SparkEntry.queries`; its family names the
layer of the entry point it calls, and so where its build time goes:
`compiler` (Graft.graphTable: PGQ parse + MATCH compile, with the probe
jobs it runs), `graph` (PathFinder / Algorithms kernels) or `ops`
(ops.* and functions.* operators).
"""

FAMILY = {
    "q6_match_1hop": "compiler",
    "q7_match_2hop": "compiler",
    "q8_match_reverse": "compiler",
    "q9_match_undirected": "compiler",
    "q10_match_sublabel": "compiler",
    "q11_varlen": "compiler",
    "q12_shortest_path": "compiler",
    "q13_reachability": "compiler",
    "q42_match_3hop_big": "compiler",
    "q16_wcc": "graph",
    "q35_user_bfs": "graph",
    "q36_user_wcc": "graph",
    "q110_hll_by_group": "ops",
}

# MATCH, path and graph queries of the analyst session: fixed-cost bound
# nation-graph queries plus the user-graph kernels
INTERACTIVE = [
    "q6_match_1hop", "q7_match_2hop", "q8_match_reverse", "q9_match_undirected",
    "q10_match_sublabel", "q11_varlen", "q12_shortest_path", "q13_reachability",
    "q16_wcc", "q35_user_bfs", "q36_user_wcc",
]

# queries over the tables a refresh round swaps (events, orders, lineitem)
OVER_SWAPPED = ["q35_user_bfs", "q36_user_wcc", "q42_match_3hop_big",
                "q110_hll_by_group"]

# Each workload: scale factor, query set, the tables swapped in before
# every round, passes (how often a round runs the whole set, each pass in
# its own seed-shuffled order), and round_s, the nominal seconds of one
# round on 4 cores, which sizes the work: rounds = round(--seconds /
# round_s). Before the clock starts, both run an untimed first-contact
# pass over their set and then warm_passes more untimed passes (refresh
# on a swapped-in version of its own). The JIT is still compiling the
# engine's hot paths for a few passes after first contact: timed from
# there, the early rounds varied by up to 1 s between runs. At the
# benchmark's run_seconds (25) both time at least 100 queries.
WORKLOADS = {
    # an analyst's long-lived session: fixed per-query cost dominates
    "interactive": {
        "sf": 0.1,
        "queries": INTERACTIVE,
        "warm_passes": 2,
        "passes": 1,
        "round_s": 2.5,
    },
    # writes beside reads: every round meets a new version of the swapped
    # tables, cold in its first pass and warm in its second
    "refresh": {
        "sf": 0.1,
        "queries": OVER_SWAPPED + ["q6_match_1hop", "q7_match_2hop",
                                   "q9_match_undirected", "q11_varlen",
                                   "q13_reachability", "q16_wcc"],
        "swapped": ["events", "orders", "lineitem"],
        "over_swapped": OVER_SWAPPED,
        "warm_passes": 1,
        "passes": 2,
        "round_s": 5.0,
    },
}
