"""Seeded workload plans.

A plan is the whole list of ops one benchmark process runs, in order. It
is derived from the workload name, the seed and the run length only, so the
same arguments always give the same ops, the same round order and the same
MoR batches and predicates. The engine receives only the generated inputs.

Warm-up and measurement are fixed counts of whole rounds (or MoR cycles),
never a wall-clock budget, so every run does identical work.
"""
import random

# Registry names, as graft.Registry.bench knows them. olap_mix leaves out
# tpch_q03, tpch_q05, tpch_q10 and tpcds_q95 to fit the run budget
# (README.md).
OLAP_MIX = [
    "tpch_q01_pricing_summary", "tpch_q18_large_volume_customer",
    "tpcds_q64_composite_resale", "tpcds_q67_rollup_topk",
    "tpcds_q72_inventory_chain", "events_asof_join", "join_range_bucketed",
]

# Per workload: warm-up rounds, and the nominal wall of one measured round
# (seconds) that turns --seconds into a fixed count of measured rounds.
SHAPE = {
    "olap_mix": {"warm": 2, "round_s": 8.0},
    "mor_dml": {"warm": 2, "round_s": 8.0},
}
WORKLOADS = sorted(SHAPE)

# MoR batch geometry, after TPC-H's refresh functions: RF1 inserts SF * 1500
# new orders with their lineitems and RF2 deletes as many old ones, 0.1 % of
# ORDERS each. One residue of l_orderkey mod ORDER_MOD picks 0.1 % of the
# orders, with all their lineitems. Each cycle's upsert updates one such
# slice (TPC-H defines no update; it is sized like RF1) and inserts another
# as new orders (RF1); its delete removes a third (RF2).
ORDER_MOD = 1000
# Maintenance every 2nd cycle, so that the 2 measured cycles of a run hold
# one maintenance pass.
MAINTAIN_EVERY = 2
INSERT_OFFSET = 10_000_000  # inserted rows take rowid and orderkey + offset * (cycle + 1)
READ_KINDS = ("read_pruned", "read_changes")


def measured_rounds(workload, seconds):
    return max(2, round(seconds / SHAPE[workload]["round_s"]))


def q6_args(rng):
    """The stats-pruned read's filter is TPC-H Q6's, with its substitution
    parameters drawn as the specification draws them: DATE the first of
    January of a year in 1993-1997, DISCOUNT in 0.02-0.09, QUANTITY 24 or 25.
    Returns [date from, date to, discount low, discount high, quantity]."""
    year, disc = rng.randint(1993, 1997), rng.randint(2, 9)
    return [f"{year}-01-01 00:00:00", f"{year + 1}-01-01 00:00:00",
            f"0.{disc - 1:02d}", f"0.{disc + 1:02d}", rng.randint(24, 25)]


def mor_cycle(rng, cycle):
    """The ops of one MoR cycle: upsert, delete, the reads, and maintenance
    every MAINTAIN_EVERY-th cycle. Residues are distinct within a cycle, so
    the upsert's updated and inserted rows never share a rowid."""
    upd, ins, dele = rng.sample(range(ORDER_MOD), 3)
    ops = [("upsert", [ORDER_MOD, upd, rng.randint(1, 9), ins, INSERT_OFFSET * (cycle + 1)]),
           ("delete", [ORDER_MOD, dele])]
    for kind in READ_KINDS:
        ops.append((kind, q6_args(rng) if kind == "read_pruned" else []))
    if (cycle + 1) % MAINTAIN_EVERY == 0:
        ops.append(("maintain", []))
    return ops


def make_plan(workload, seed, seconds):
    """[(phase, round, kind, args)] for one run."""
    if workload not in SHAPE:
        raise ValueError(f"unknown workload {workload!r}; known: {', '.join(WORKLOADS)}")
    rng = random.Random(f"{workload}:{seed}")
    phases = [("warm", SHAPE[workload]["warm"]), ("meas", measured_rounds(workload, seconds))]
    plan = []
    for phase, n in phases:
        for r in range(n):
            if workload == "mor_dml":
                # warm-up and measured cycles number from 0 on their own table
                plan += [(phase, r, k, a) for k, a in mor_cycle(rng, r)]
            else:
                names = list(OLAP_MIX)
                rng.shuffle(names)
                plan += [(phase, r, "q", [n]) for n in names]
    return plan


def plan_text(plan, settings):
    lines = [f"{k}\t{v}" for k, v in settings.items()]
    lines += ["\t".join(["op", ph, str(r), k] + [str(x) for x in a]) for ph, r, k, a in plan]
    return "\n".join(lines) + "\n"
