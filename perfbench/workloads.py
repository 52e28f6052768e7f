"""The benchmark's workloads: which keys run on what data.

Every workload is a single caller in a closed loop: it calls one
registered key, waits until its result is collected, then calls the next.
The seed picks the order of keys within each timed pass; the tables are
the sf0.01 fixtures (stage.py), staged as they are or duplicated.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

@dataclass(frozen=True)
class Workload:
    name: str
    keys: tuple          # registered keys, one call each per pass
    dup: int = 1         # >1: stage that many id-shifted copies
    probes: tuple = ()   # keys called once outside the loop, never counted


def pass_order(keys: list[str], name: str, seed: int, pass_no: int) -> list[str]:
    """Pass 0, the cold pass, runs the keys as listed, so JVM warm-up
    always lands on the same key; later passes in a seeded order."""
    order = list(keys)
    if pass_no:
        random.Random(f"{name}-order-{seed}-{pass_no}").shuffle(order)
    return order


WORKLOADS = {w.name: w for w in (
    # Plan build: one key from each of four families, each about 0.2 s
    # warm at sf0.01; k-means and connected components, whose rounds are
    # driven from the driver; a real micro-batch replay with a state
    # store. The replay that fails from outside the package root is a
    # probe.
    Workload(name="sweep", keys=(
        "agg_corr_matrix", "events_attribution_linear", "udf_python",
        "sim_knn_filtered", "cluster_kmeans_fit",
        "dedup_connected_components", "stream_complete_mode",
    ), probes=("stream_python_datasource",)),
    # Execution at about sf0.5 (74 MB): 50 id-shifted copies of each
    # id-keyed sf0.01 table. Exact sums, basket pairs, a funnel over
    # events and n-gram matching over documents; each key builds in
    # about 0.1 s and executes for 0.5-1.5 s.
    Workload(name="dup10", dup=50, keys=(
        "agg_pricing_summary", "lineitem_market_basket",
        "events_funnel", "text_decontaminate",
    )),
)}
