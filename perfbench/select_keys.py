"""Picks a workload's measured keys from a traced run of its whole pool.

    python3 perfbench/run.py --workload NAME --seed 1 --seconds 1 --trace 1 --pool
    python3 perfbench/select_keys.py perfbench/work/results/NAME-pool-seed1-trace1.json

A workload's pool is the full key list of its rule (workloads.py), split
into families. A pass over the whole pool is too long for the benchmark's
run budget, so the benchmark measures a subset chosen by the keys' measured
profiles, not by their names:

  * Each key's profile comes from its run in the traced pass: the share of
    its wall time spent constructing its DataFrame (`construct_s/wall_s`),
    its task seconds per wall second (slot use times the core count), and
    the jobs it started during construction.
  * Each family's target is its own aggregate profile: the sum of
    construction time over the sum of wall time, the sum of task time over
    the sum of wall time, and construction jobs per key.
  * Distance of a key to its family's target: Euclidean, each feature
    divided by its standard deviation across the family.
  * Each family gets a share of the pass budget (`nominal_pass_s`) equal
    to its share of the pool's wall time. Its keys are taken nearest
    first while their summed wall time fits that share, and at least one.

It prints the chosen keys and the aggregate profile of every family and of
the pool next to those of the subset.
"""
import json
import math
import os
import sys

import workloads


def profile(rows, cpus):
    wall = sum(r["wall_s"] for r in rows)
    return {"keys": len(rows), "wall_s": wall,
            "construct_share": sum(r["construct_s"] for r in rows) / wall,
            "slot_util": sum(r["busy_s"] for r in rows) / wall / cpus,
            "construct_jobs_per_key": sum(r["construct_jobs"] for r in rows) / len(rows),
            "jobs_per_key": sum(r["jobs"] for r in rows) / len(rows)}


def features(r):
    return (r["construct_s"] / r["wall_s"], r["busy_s"] / r["wall_s"], r["construct_jobs"])


def select(wl, rows):
    """rows: one profile per pool key. Returns the chosen keys in pool order."""
    by_key = {r["key"]: r for r in rows}
    total = sum(r["wall_s"] for r in rows)
    chosen = []
    for fam in wl.pool.values():
        fam_rows = [by_key[k] for k in fam if k in by_key]
        wall = sum(r["wall_s"] for r in fam_rows)
        target = (sum(r["construct_s"] for r in fam_rows) / wall,
                  sum(r["busy_s"] for r in fam_rows) / wall,
                  sum(r["construct_jobs"] for r in fam_rows) / len(fam_rows))
        feats = [features(r) for r in fam_rows]
        sd = [math.sqrt(sum((f[i] - sum(g[i] for g in feats) / len(feats)) ** 2 for f in feats)
                        / len(feats)) or 1.0 for i in range(3)]

        def dist(r):
            return math.sqrt(sum(((x - t) / s) ** 2 for x, t, s in zip(features(r), target, sd)))

        quota = wl.nominal_pass_s * wall / total
        used, picked = 0.0, []
        for r in sorted(fam_rows, key=dist):
            if picked and used + r["wall_s"] > quota:
                break
            picked.append(r["key"])
            used += r["wall_s"]
        chosen += [k for k in fam if k in picked]
    return chosen


def main():
    raw = json.load(open(sys.argv[1]))
    wl = workloads.WORKLOADS[raw["workload"]]
    cpus = raw.get("cpus") or len(os.sched_getaffinity(0))
    rows = [r for r in raw["key_profiles"] if r["key"] not in raw["failed"]]
    missing = set(wl.pool_keys()) - {r["key"] for r in rows}
    if missing:
        print(f"no profile (failed or not run): {sorted(missing)}")
    chosen = select(wl, rows)

    def show(name, rs):
        p = profile(rs, cpus)
        print(f"  {name:22s} keys {p['keys']:3d}  wall {p['wall_s']:7.2f} s  "
              f"construct_share {p['construct_share']:.3f}  slot_util {p['slot_util']:.3f}  "
              f"construct_jobs/key {p['construct_jobs_per_key']:.2f}  jobs/key {p['jobs_per_key']:.2f}")

    print(f"{wl.name}: pool vs chosen subset (one traced pass, {cpus} cores)")
    show("pool", rows)
    show("subset", [r for r in rows if r["key"] in chosen])
    for fam, ks in wl.pool.items():
        show(f"{fam} pool", [r for r in rows if r["key"] in ks])
        show(f"{fam} subset", [r for r in rows if r["key"] in ks and r["key"] in chosen])
    print(json.dumps(chosen))


if __name__ == "__main__":
    main()
