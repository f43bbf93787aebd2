#!/usr/bin/env python3
"""Derive the query workloads' key lists from the committed key profile.

    python3 perfbench/select_keys.py

prints the lists that perfbench/workloads.json freezes by name. The profile
(profile/seed_profile.tsv) is one warm traced pass over all registry keys at
local[4] on the sf0.1 tables, recorded with `run.py --profile`.

driver_bound: every key under 300 ms whose construction call runs Spark jobs,
plus every sixtieth key, in name order, of the keys under 300 ms that run
none. Of these it leaves out the keys in COLD_HOGS: their first execution
in a fresh session builds a session cache for seconds, which the per-run
time budget cannot pay for.

executor_bound: the keys that run no construction-time jobs, whose executor
CPU time is at least their wall time and that take at least 250 ms, as
listed from an earlier profile of the same commit (EXECUTOR_BOUND; this
profile agrees on all but a few keys near the thresholds).
"""

import csv
import os

PROFILE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "profile", "seed_profile.tsv")

# first execution in a fresh session, measured in a driver_bound warm-up
COLD_HOGS = {
    "q_eval_auroc": "9.0 s",
    "q_sample_rep_weight": "4.2 s",
    "q_graph_components": "4.2 s",
    "q_graph_degree_dist": "4.1 s",
}


def load():
    with open(PROFILE) as fh:
        rows = list(csv.DictReader(fh, delimiter="\t"))
    for r in rows:
        for k in r:
            if k != "key":
                r[k] = float(r[k])
    return rows


def driver_bound(rows):
    fast = [r for r in rows if r["wall_ms"] < 300]
    jobs = [r["key"] for r in fast if r["build_jobs"] > 0]
    none = sorted(r["key"] for r in fast if r["build_jobs"] == 0)
    return sorted(k for k in jobs + none[::60] if k not in COLD_HOGS)


EXECUTOR_BOUND = [
    "q_agg_weighted_median", "q_basket_rules", "q_dedup_simhash_pairs",
    "q_eval_minhash_recall", "q_events_path_topk", "q_graph_pagerank",
    "q_multimodal_phash_hamming", "q_orders_backlog", "q_set_bag_ops",
    "q_sim_sparse_topk", "q_text_chunk_dedup", "q_text_ngram",
    "q_text_span_dedup"]


def executor_bound(rows):
    return EXECUTOR_BOUND


if __name__ == "__main__":
    rows = load()
    wall = {r["key"]: r["wall_ms"] for r in rows}
    for name, keys in [("driver_bound", driver_bound(rows)),
                       ("executor_bound", executor_bound(rows))]:
        print(f"{name}: {len(keys)} keys, {sum(wall[k] for k in keys) / 1000:.1f} s"
              f" per profiled pass")
        print("  " + ",".join(keys))
