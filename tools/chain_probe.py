"""Chain-graph probe: connected components with the driver-side finish
off (star rounds only, ``LOCAL_FINISH_EDGES = 0``) against the default
bound, and the measurement that sizes that bound.

Chain-shaped components (temporally drifting near-dup chains, redirect
chains) are the graph shape large-star/small-star exists for: their
diameter is the chain length, and a chain forest keeps the star graph's
edge count (one edge per non-minimum node) in every round, so each
alternation runs over the full edge set. For each edge count E the probe
builds disjoint chains with E edges in total, pins them, and reports:

- ``rounds_s`` / ``rounds``: the whole operator with the bound at 0;
- ``alternation_s``: the median time of ONE large-star/small-star
  alternation at E edges (the gap between consecutive round pins, so
  plan construction, the round's job and the driver gap are included);
- ``finish_s``: the median of 3 driver finishes at E edges — the
  bounded read of the pinned edges, union-find, and the one-slice label
  frame, consumed;
- ``default_s``: the whole operator at the default bound.

A bound is justified at E when ``finish_s`` is no more than
``alternation_s``: finishing then costs no more than the round it
replaces. Every output is checked against the chains' minimum ids.

Prints one JSON line:
{"chain_len": L, "bound": B, "sizes": {E: {...}}}

Usage: python tools/chain_probe.py [chain_len=32] [edges ...]
       (default edge counts: 3000 10000 30000 100000)
"""

from __future__ import annotations

import json
import statistics
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from sdc_spark.materialize import materialize, unmaterialize
from sdc_spark.operators import dedup
from sdc_spark.session import get_spark
from sdc_spark.sources.readers import local_rows


def chain_edges(spark, n_edges: int, length: int):
    """Pinned edges (i, i+1) of disjoint chains of ``length`` nodes,
    ``n_edges`` edges in total (rounded down to whole chains)."""
    n = (n_edges // (length - 1)) * length
    nodes = spark.range(n).select(F.col("id").alias("u"))
    return materialize(
        nodes.filter((F.col("u") % length) != length - 1).select(
            F.col("u").alias("doc_a"), (F.col("u") + 1).alias("doc_b")
        )
    )


def check_labels(out, length: int) -> None:
    """Every node's component must be its chain's minimum node id."""
    bad = out.filter(
        F.col("component") != (F.col("doc") - F.col("doc") % length)
    ).count()
    assert bad == 0, f"connected components mislabeled {bad} nodes"


def run_components(edges, length: int, bound: int) -> tuple[float, list[float]]:
    """Wall time of the operator at ``bound`` (labels checked outside the
    timed region) and the time of each alternation it ran."""
    pins: list[float] = []
    default, round_pin = dedup.LOCAL_FINISH_EDGES, dedup._materialize_iter_lazy

    def timed_pin(df):
        pins.append(time.perf_counter())
        return round_pin(df)

    dedup.LOCAL_FINISH_EDGES, dedup._materialize_iter_lazy = bound, timed_pin
    try:
        t0 = time.perf_counter()
        out = dedup.components_star(edges, max_iter=40)
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
    finally:
        dedup.LOCAL_FINISH_EDGES, dedup._materialize_iter_lazy = default, round_pin
    check_labels(out, length)
    return dt, [b - a for a, b in zip(pins, pins[1:])]


def driver_finish(edges, n_edges: int) -> float:
    """The finish's own cost at this edge count: bounded read, union-find,
    the one-slice frame of labels, consumed."""
    spark = edges.sparkSession
    t0 = time.perf_counter()
    head = edges.limit(n_edges + 1).collect()
    labels = local_rows(spark, dedup._min_labels(head), "doc bigint, component bigint")
    labels.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def main() -> None:
    length = int(sys.argv[1]) if len(sys.argv) > 1 else 32
    sizes = [int(a) for a in sys.argv[2:]] or [3_000, 10_000, 30_000, 100_000]
    spark = get_spark("chain_probe")
    default = dedup.LOCAL_FINISH_EDGES
    result = {"chain_len": length, "bound": default, "sizes": {}}
    for n_edges in sizes:
        edges = chain_edges(spark, n_edges, length)
        run_components(edges, length, 0)  # warm-up: JIT, plan caches
        rounds_s, alternations = run_components(edges, length, 0)
        n = edges.count()
        driver_finish(edges, n)  # warm-up: the Python worker of the label frame
        finish_s = statistics.median(driver_finish(edges, n) for _ in range(3))
        default_s, _ = run_components(edges, length, default)
        unmaterialize(edges)
        result["sizes"][n_edges] = row = {
            "rounds_s": round(rounds_s, 3),
            "rounds": len(alternations) + 1,
            "alternation_s": round(statistics.median(alternations), 3),
            "finish_s": round(finish_s, 3),
            "default_s": round(default_s, 3),
        }
        print(f"E={n_edges}: {row}", file=sys.stderr)
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    raise SystemExit(main())
