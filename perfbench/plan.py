"""Seeded workload plans: which ops run, in what order, over which windows.

Everything the workload seed decides is decided here, in plain Python, so
it can be tested without a JVM. The program only ever sees the resulting
op sequence and input windows.
"""
import random

# Catalog family prefixes, in the order graft.CatalogDoc lists them.
FAMILIES = ["flagship", "j", "p", "a", "w", "k", "f", "nested", "set", "dd",
            "ann", "t", "mm", "s", "skew", "emb", "g", "sq", "corpus", "audit"]

# The iterative (fixpoint) queries and the streaming replays.
FIXPOINT_LOOPS = ["dd_conn_components", "dd_conn_components_alt", "g_pagerank",
                  "g_bfs_levels", "g_label_propagation", "g_sssp_bellman",
                  "g_kcore_peel", "t_bpe_train_merges", "emb_kmeans"]
STREAM_REPLAYS = ["j_stream_confirm_replay", "j_stream_outer_replay",
                  "j_stream_static_enrich", "w_session_replay",
                  "w_stream_dedup_replay", "w_stream_update_replay",
                  "w_transform_state_replay", "w_watermark_late_drop"]

# The catalog_mix query set is drawn once with this fixed seed, so every
# run measures the same queries and a workload seed moves only their order
# (a per-seed draw moved the median op time by ~10% and ops/s by ~20%
# between seeds, in simulation over the catalog's per-query times).
MIX_SEED = 20240301
MIX_PER_FAMILY = 1

# dispatch_cycles: 5-minute cadence within one day partition, as the
# reference DAGs poll (SURVEY.md, "Triggers")
DISPATCH_DAY = "2024-03-01"
# Each window holds about as many lineitem rows as PipelineSpec's dispatch
# run (`Tables.lineitem(...).limit(2000)`); run.py turns this into an
# orderkey span from the generated table's rows per key.
DISPATCH_WINDOW_ROWS = 2000
# Assumptions, not measured traffic: the workload calls for a replayed
# window and a compaction "every few cycles", and no source in the repo
# fixes how often either happens.
DISPATCH_REPLAY_EVERY = 5    # every 5th cycle replays an earlier window
DISPATCH_COMPACT_EVERY = 4   # compact the day partition every 4th cycle

# How many ops a run times. The count depends only on --seconds, never on
# how fast the program runs, so a parent and a change time the same ops
# and report the same tail percentile. The per-op figures are the nominal
# cost on 4 cores at this benchmark's introduction.
CATALOG_PASS_S = 15.0        # one timed pass of the mix
DISPATCH_CYCLE_S = 2.0       # one dispatch cycle with its audit read


def op_count(seconds, nominal_s):
    """Ops (catalog passes or dispatch cycles) a run of `seconds` times."""
    return max(1, round(seconds / nominal_s))


def family_of(name):
    """Family prefix of a catalog query (graft.CatalogDoc.familyOf)."""
    prefix = name.split("_", 1)[0]
    for p in FAMILIES:
        if prefix == p or (len(p) > 1 and name.startswith(p + "_")):
            return p
    for p in FAMILIES:
        if prefix.startswith(p):
            return p
    return "other"


def mix_sample(names, seed=MIX_SEED, per_family=MIX_PER_FAMILY):
    """The catalog_mix query set: `per_family` queries from every family
    plus one fixpoint loop and one streaming replay, drawn with `seed`.
    `names` are the catalog queries that carry an oracle."""
    rng = random.Random(seed)
    special = set(FIXPOINT_LOOPS) | set(STREAM_REPLAYS)
    by_family = {}
    for n in sorted(names):
        if n not in special:
            by_family.setdefault(family_of(n), []).append(n)
    picked = []
    for fam in sorted(by_family):
        pool = by_family[fam]
        picked += rng.sample(pool, min(per_family, len(pool)))
    for group in (FIXPOINT_LOOPS, STREAM_REPLAYS):
        pool = sorted(n for n in group if n in set(names))
        if pool:
            picked.append(rng.choice(pool))
    return sorted(picked)


def interleave(queries, seed, passes):
    """`passes` shuffled passes over `queries`, each query once per pass,
    never the same query twice in a row (also across pass boundaries)."""
    rng = random.Random(seed)
    seq = []
    for _ in range(passes):
        order = list(queries)
        rng.shuffle(order)
        if seq and len(order) > 1 and order[0] == seq[-1]:
            j = rng.randrange(1, len(order))
            order[0], order[j] = order[j], order[0]
        seq += order
    return seq


def window_keys(max_orderkey, rows, rows_per_window=DISPATCH_WINDOW_ROWS):
    """Orderkeys per dispatch window, so that a window of [0, max_orderkey)
    keys spread over `rows` lineitem rows holds about `rows_per_window`."""
    return max(2, round(rows_per_window * max_orderkey / rows))


def dispatch_windows(seed, max_orderkey, cycles, size, replay_every=DISPATCH_REPLAY_EVERY):
    """Seeded dispatch windows: [lo, hi) orderkey ranges of `size` keys,
    each new window overlapping the previous new window by half, every
    `replay_every`-th cycle replaying an earlier window whole. Returns
    [(lo, hi, 'YYYY-MM-DD HH:MM:SS', is_replay)]."""
    rng = random.Random(seed)
    step = size // 2
    span = step * cycles + size
    lo = rng.randrange(0, max(1, max_orderkey - span))
    fresh, out = [], []
    for i in range(cycles):
        if (i + 1) % replay_every == 0 and fresh:
            w, replay = rng.choice(fresh), True
        else:
            w, replay = (lo, lo + size), False
            fresh.append(w)
            lo += step
        minute = 5 * i
        out.append((w[0], w[1], f"{DISPATCH_DAY} {minute // 60:02d}:{minute % 60:02d}:00",
                    replay))
    return out


def warm_windows(max_orderkey, n, size):
    """The untimed warm-up cycles' windows: the last n·size orderkeys, run
    on throw-away state and lake directories."""
    return [(max_orderkey - (k + 1) * size, max_orderkey - k * size,
             f"{DISPATCH_DAY} 23:{55 - 5 * k:02d}:00") for k in range(n)]
