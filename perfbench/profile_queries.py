"""Cost profile of every registered contract query, and the stratified
subset that ``contract_sweep`` runs.

    python3 perfbench/profile_queries.py [--seed 401] [--out perfbench/query_costs.json]

One process on ``local[nproc]`` runs all registered queries (call plus noop
action) over the seeded sf0.01-shape fixture three times: a cold pass
(which also checks each query against its DuckDB oracle) and two warm
passes. It writes, per query, its module, cold and warm seconds, its Spark
job count on the last pass and its oracle result, then prints the subset
chosen by ``stratify`` with its share of the full pass's time and jobs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness, inputs  # noqa: E402

STRATA = 7


def stratify(costs: dict, k: int = STRATA) -> list[str]:
    """Sort the queries by warm time and cut them into ``k`` strata of
    near-equal size. Each stratum gives the query nearest its median time,
    preferring a query module the subset covers least so far."""
    ranked = sorted(costs, key=lambda n: costs[n]["warm_s"])
    bounds = [round(i * len(ranked) / k) for i in range(k + 1)]
    picked, seen = [], {}
    for i in range(k):
        members = ranked[bounds[i]:bounds[i + 1]]
        mid = statistics.median(costs[n]["warm_s"] for n in members)
        pick = min(members, key=lambda n: (seen.get(costs[n]["module"], 0), abs(costs[n]["warm_s"] - mid)))
        seen[costs[pick]["module"]] = seen.get(costs[pick]["module"], 0) + 1
        picked.append(pick)
    return picked


def profile(seed: int) -> dict:
    run_dir = os.path.join(harness.WORK, "runs", f"profile-{seed}-{os.getpid()}")
    harness.prepare_env(run_dir)
    sf_dir = inputs.cached("fixture", seed, os.path.join(harness.WORK, "cache"))
    spark, _ = harness.start_session(harness.cpu_count())
    try:
        from pulsar_replay_spark import registry
        from tools.parity import compare, duck_connection

        registry.load_all()
        con = duck_connection(sf_dir)
        sc = spark.sparkContext
        times: dict[str, list[float]] = {n: [] for n in registry.QUERIES}
        out = {}
        for p in range(3):
            for name, fn in sorted(registry.QUERIES.items()):
                sc.setJobGroup(f"profile-{p}-{name}", name)
                t = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                times[name].append(time.perf_counter() - t)
                ok = None
                if p == 0 and name in registry.ORACLES:
                    ok = not compare(fn(spark, sf_dir).toPandas(), con.execute(registry.ORACLES[name]).df())
                rec = out.setdefault(name, {"module": fn.__module__.rsplit(".", 1)[-1], "oracle_ok": ok})
                rec.update(cold_s=times[name][0], warm_s=statistics.median(times[name][1:] or times[name]),
                           jobs=len(sc.statusTracker().getJobIdsForGroup(f"profile-{p}-{name}")))
        con.close()
        return out
    finally:
        harness.stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=401)
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "query_costs.json"))
    a = ap.parse_args(argv)
    costs = profile(a.seed)
    with open(a.out, "w") as f:
        json.dump({"seed": a.seed, "cpus": harness.cpu_count(), "queries": costs}, f, indent=1, sort_keys=True)
    sub = stratify(costs)
    tot_s = sum(c["warm_s"] for c in costs.values())
    tot_j = sum(c["jobs"] for c in costs.values())
    sub_s = sum(costs[n]["warm_s"] for n in sub)
    sub_j = sum(costs[n]["jobs"] for n in sub)
    print(json.dumps({"subset": sub, "full_warm_s": tot_s, "full_jobs": tot_j, "subset_warm_s": sub_s,
                      "subset_jobs": sub_j, "time_share": sub_s / tot_s, "job_share": sub_j / tot_j,
                      "oracle_failures": [n for n, c in costs.items() if c["oracle_ok"] is False]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
