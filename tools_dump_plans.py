"""Dump explain('formatted') plans of registered queries.

Usage:
  python tools_dump_plans.py
      Regenerate PLANS.md: snapshots of representative queries at sf0.001
      with AQE off (stable plan text).
  python tools_dump_plans.py --suffix after --sf DIR [--names a,b] [--aqe]
                             [--out DIR]
      Write one file per query, <out>/<query>_<suffix>.txt, for a before /
      after comparison of plan text. Queries default to bench.HEADLINE;
      AQE defaults to off (the bench posture), --aqe gives the scale
      posture. --sf defaults to $SPARK_GRAFT_SF_DIR.

The load-bearing plan properties are PINNED in tests/test_plan_shapes.py;
these dumps are documentation for human review, not a gate.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PICKS = {
    "pricing_summary": "TPC-H Q1: scan -> partial+final hash agg; pushdown + pruned ReadSchema",
    "revenue_by_nation": "4-table join: broadcast dims, single fact shuffle",
    "top_customers": "global top-k as TakeOrderedAndProject (no full sort)",
    "minhash_lsh_pairs": "MinHash+LSH: one-pass signatures, banded candidate join, no cartesian",
    "bm25_ranked_docs": "BM25: one groupBy(doc) feeds dl+tf; df/stats broadcast; cached per-doc table",
    "chunk_dedup_docs": "passage dedup: fingerprint window + reassembly, two exchanges, no self-join",
    "curated_training_set": "flagship curation pipeline: fused stat projections, broadcast eval shingles",
    "heavy_hitter_users": "sketch+verify: narrow MG stage, broadcast candidate semi-join",
    "embedding_near_dup": "multi-table LSH self-join: one (table,bucket) shuffle into the tiled in-kernel matmul verify; only surviving pairs leave",
    "keyed_scan_latest": "HBase-style versioned read: row-key range pushed to the scan, one window for newest-k cells",
    "doc_ngram_repetition": "Gopher n-gram repetition filters: one zero-shuffle Arrow stage riding the documents scan",
    "duplicate_text_spans": "exact-substring span dedup: shingle-hash vote, semi-join, ONE doc_id exchange shared by island windows + span groupBy",
    "bloom_filtered_orders": "blocked-Bloom pruned semi-join: codegen probe (BHJ on block index + mask test) directly over the orders scan",
    "word_triangle_counts": "degree-oriented triangle counting: joined-degree orientation, wedge self-join on the anchor, no global rank window",
    "weighted_doc_sample": "integer-exact weighted sampling: per-row ticket-max projection + TakeOrderedAndProject",
    "source_distinctive_terms": "keyness: one (source, word) exchange; word/group/grand totals rejoin as broadcasts (BHJ + 1-row BNLJ)",
    "source_ngram_diversity": "trigram diversity: grams built scan-side (arrays_zip slices), one (source, gram) exchange + tiny rollup",
    "incremental_ingest_dedup": "incremental dedup: batch-sized fingerprint projection joins the index and its own canonical on one key",
    "prefix_jaccard_pairs": "PPJoin prefix filter: df join + per-doc rank window, candidates from prefix-token equi-join only, no cartesian",
    "user_freq_countmin": "Count-Min: map-side-collapsed (row,bucket) agg; estimate probe = BHJ against the sketch-sized counter table",
    "exact_value_quartiles": "distributed selection: histogram agg pass + rank window over ONLY the target bins (isin pushdown at the scan)",
    "knn_predictions_routed": "the graded 100 TB kNN: Arrow signature stages, home-bucket BHJ (query side broadcast), vote window — no cartesian, no query-side collect",
    "hybrid_retrieval_rrf": "hybrid retrieval: BM25 leg cut by TakeOrderedAndProject, LSH bucket BHJ leg, full-outer fusion over <=40 rows",
    "language_id_ngram": "char-n-gram LID: one zero-exchange Arrow stage riding the documents scan (5 vectorized lookahead scans per batch)",
    "retrieval_ndcg_eval": "graded ranking eval: LSH-list DCG agg + IDCG from grade counts expanded over a broadcast 1..k series (interval BNLJ) — no per-query corpus sort",
    "corpus_sample_ids": "TeraSort-rank id assignment: ONE range exchange + local sort, zero-shuffle Arrow index pass, broadcast offsets join — no Window, no single-partition funnel",
}

_JOINS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
)


def main() -> None:
    from mapreduce_big_data_processing_spark.session import get_session
    from mapreduce_big_data_processing_spark import queries as Q

    spark = get_session("plans", cpus=8, adaptive=False)
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — explain('formatted') snapshots of representative queries",
        "",
        "Regenerate with `python tools_dump_plans.py` (this file is that script's",
        "output). These are the physical plans the engine ships at sf0.001 with AQE",
        "off for stable text; `tests/test_plan_shapes.py` pins the load-bearing",
        "properties (broadcasts, exchange counts, no cartesians) so regressions",
        "fail CI rather than relying on this document.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    for name, why in PICKS.items():
        df = Q.QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().explainString(mode)
        out += [f"## {name}", f"*{why}*", "```", plan.strip(), "```", ""]
    with open(os.path.join(os.path.dirname(__file__), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md written")


def dump(suffix: str, sf_dir: str, names: list[str] | None, aqe: bool, outdir: str) -> None:
    """One plan file per query, cache cleared between queries so every
    plan is built from the same cold cache state."""
    from bench import HEADLINE
    from mapreduce_big_data_processing_spark import queries as Q
    from mapreduce_big_data_processing_spark.session import get_session

    spark = get_session("plans-dump", adaptive=aqe)
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)
    for name in names or [n for n in HEADLINE if n in Q.QUERIES]:
        df = Q.QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        joins = [k for k in _JOINS if k in plan]
        print(f"{name}_{suffix}: Exchange={plan.count('Exchange')} joins={joins}", flush=True)
        spark.catalog.clearCache()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--suffix", help="dump per-query files instead of PLANS.md")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="fixture directory")
    ap.add_argument("--names", help="comma-separated query names (default: bench.HEADLINE)")
    ap.add_argument("--aqe", action="store_true", help="AQE on (default off)")
    ap.add_argument("--out", default=os.path.join(os.path.dirname(os.path.abspath(__file__)), "plans"),
                    help="output directory (default: plans/)")
    a = ap.parse_args()
    if a.suffix is None:
        main()
    elif a.sf is None:
        ap.error("--suffix needs --sf or SPARK_GRAFT_SF_DIR")
    else:
        dump(a.suffix, a.sf, a.names.split(",") if a.names else None, a.aqe, a.out)
