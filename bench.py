"""Benchmark harness (driver contract: one JSON line on stdout).

Runs the headline query set — one per operator family (BASELINE.md) — at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS]. Each query executes to completion through the
noop sink (full plan runs, zero driver-transfer overhead), wall-clock
timed after a JVM/scan warmup.

Output: {"metric": "headline_total", "value": <sum sec>, "unit": "sec",
         "queries": {name: sec, ...}, "sf": <sf>,
         "host_probe": {"single_core_sec": ..., "parallel32_sec": ...},
         "heavy_min_of_2": {name: [run1_sec, run2_sec], ...}}

The host_probe pair is the load witness (BASELINE.md probe protocol):
rounds 1-6 showed uniform 1.15-2x host-speed shifts between driver
sessions, and headline totals scale ~linearly with parallel32_sec —
so a BENCH_r{N} total only carries cross-round signal after comparing
its embedded probes (idle band: ~0.70-0.78 single / ~1.2-1.4 parallel).

Seven noisy keys run TWICE (dedup_clusters, graph_pagerank,
emb_knn_graph, sim_topk, agg_basic, join_star, stream_tumbling): the
recorded per-query timing (and the total) uses the MIN, and both raw runs
are emitted under "heavy_min_of_2" so each carries its own load witness —
a wide spread between the two runs is the host-noise signature, visible
per query instead of only via the session-level probe pair.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "flagship_pipeline",  # reference pipeline end-to-end
    "agg_basic",          # TPC-H Q1 hash agg
    "join_star",          # 5-way star join
    "win_topk",           # per-group top-k window
    "dedup_firstwin",     # keyed first-wins dedup
    "sim_topk",           # brute-force cosine top-k
    "text_tfidf",         # explode + 2-level agg + window
    "stream_tumbling",    # structured streaming windowed agg
    "dedup_minhash",      # shingle MinHash-LSH candidate pairs
    "pipeline_pretrain",  # composed quality-gate -> dedup -> corpus stats
    "join_asof",          # non-equi as-of join (equi key + max_by reduce)
    "dedup_clusters",     # iterative connected components (multi-job)
    "render_block",       # ordered group-all string fold (ref end product)
    "graph_pagerank",     # fixed-point PageRank, 3 Pregel-as-joins rounds
    "win_pattern_match",  # MATCH_RECOGNIZE analog (keyed lead-chain window)
    "inverted_index",     # tokenize -> explode -> capped posting-list agg
    "text_lm_score",      # unigram-LM quality scoring (broadcast vocab)
    "emb_knn_graph",      # label-blocked k-NN edge construction
    "layout_zorder",      # Morton 2-D clustering cells (layout planning)
]


_PROBE_N = 20_000_000  # the canonical tools/host_probe.py burn: a smaller
# scaled burn over-weights the ~0.15 s pool-startup constant (measured:
# scaled-4x parallel read 1.8-2.2 on a 1.25 standalone box), so the full
# burn is the only reading comparable to the BASELINE.md bands


def _probe_burn(_=None) -> int:
    x = 0
    for i in range(_PROBE_N):
        x += i
    return x


def _host_probe() -> dict:
    """Pure-CPython, Spark-free load witness (tools/host_probe.py inlined;
    adds ~2 s to the bench): single-core and parallel busy-loop seconds
    in the units BASELINE.md bands are recorded in (idle band
    ~0.70-0.78 single / ~1.2-1.4 parallel at 32 lanes).

    r12 (VERDICT r11 item 2): the pool honors $SPARK_GRAFT_CPUS — a
    hard-coded Pool(32) at cpus=8 oversubscribed the probe 4x and
    mislabeled the reading, feeding the false "ignores CPUS" signal.
    ``parallel_sec`` + ``probe_parallelism`` are the honest pair; the
    historical ``parallel32_sec`` key is kept ONLY when the pool really
    is 32-wide, so the BASELINE.md bands stay comparable."""
    import multiprocessing as mp

    from hh_rumors_presto_spark.session import default_parallelism

    lanes = min(32, default_parallelism())
    t0 = time.time()
    _probe_burn()
    single = time.time() - t0
    try:
        t0 = time.time()
        with mp.Pool(lanes) as pool:
            pool.map(_probe_burn, range(lanes))
        par = time.time() - t0
    except Exception:  # restricted fork environments: single-core only
        par = None
    out = {
        "single_core_sec": round(single, 3),
        "probe_parallelism": lanes,
        "parallel_sec": round(par, 3) if par is not None else None,
    }
    if lanes == 32:
        out["parallel32_sec"] = out["parallel_sec"]
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # probe BEFORE the SparkSession exists: with the JVM up, its 32
    # executor threads' background work inflates the parallel reading by
    # ~0.5 s (measured: 1.75 embedded vs 1.25 standalone on an idle box),
    # which would make the recorded witness incomparable to the
    # BASELINE.md idle bands (~0.70-0.78 single / ~1.2-1.4 parallel)
    probe = _host_probe()

    from hh_rumors_presto_spark.session import get_spark
    import __spark_entry__ as ent

    spark = get_spark("bench")
    qs = ent.queries()

    def run(name: str) -> float:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # Warmup covers each engine path once so timings measure steady-state
    # query cost, not one-time process setup: agg_basic (JVM JIT + parquet
    # footer/file-listing caches), flagship_pipeline (Python/Arrow UDF
    # worker pool spin-up), stream_tumbling (streaming state-store init).
    # BASELINE.md bands are recorded under the same protocol.
    run("agg_basic")
    run("flagship_pipeline")
    run("stream_tumbling")

    heavy = {
        "dedup_clusters", "graph_pagerank", "emb_knn_graph",
        "sim_topk", "agg_basic", "join_star", "stream_tumbling",
    }
    timings: dict[str, float] = {}
    heavy_runs: dict[str, list[float]] = {}
    for name in HEADLINE:
        t1 = run(name)
        if name in heavy:
            t2 = run(name)
            heavy_runs[name] = [round(t1, 3), round(t2, 3)]
            t1 = min(t1, t2)
        timings[name] = round(t1, 3)
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "host_probe": probe,
                "heavy_min_of_2": heavy_runs,
            }
        )
    )


if __name__ == "__main__":
    main()
