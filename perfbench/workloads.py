"""The benchmark's named workloads.

Each workload is a fixed, ordered list of registered queries run as a
closed loop by one client (the driver process) on ``local[4]``, over
inputs generated from the run's seed at a fixed multiple of sf0.1. The
order never changes between samples, so cache state a query leaves behind
reaches the next query the same way on every run.

Sizes are set by the run budget of a 4-core box, not by the largest input
the engine handles: a whole run (JVM start, input generation, a cold
warm-up pass, the measured window and the untimed oracle pass) should
take about a minute on a calm machine, because a full measurement of 48
runs has to end within 3420 s; so every workload's warm pass takes a few
seconds.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...]
    #: the generated tables the queries load
    tables: tuple[str, ...]
    #: nominal seconds of one warm pass on 4 cores; a window holds as many
    #: whole passes as fit in ``--seconds``, and at least ``min_passes``
    pass_s: float
    min_passes: int = 1
    #: DuckDB samples timed on each side of every engine sample; a query
    #: whose engine sample lasts seconds gets several, so that DuckDB's
    #: median, like the engine's, spans the machine's speed over the window
    duck_samples: int = 1


#: input size of every workload, as a multiple of sf0.1 (0.1 = sf0.01)
MULT = 0.1
#: every workload runs with AQE off, as ``bench.py`` does at small scale
ADAPTIVE = False

#: every fixture table (``hive_compound_types`` registers them all as views)
ALL_TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings")

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="headline_sf0.01",
            why=(
                "7 of the 28 bench.HEADLINE queries, a lineitem x part join, a table write, every family and table, "
                "AQE off: per-query fixed cost (build, Catalyst, scheduling, collect) dominates"
            ),
            # Chosen from measured warm times of all 28 at sf0.01 (23.7 s a
            # pass on 4 cores, 63 s cold; see BASELINE.md): TPC-H relational
            # queries over every TPC-H table (a lineitem x part join, a
            # supplier rank, a four-way customer join), the event and text
            # families, the Arrow kNN kernel and pagerank, the slowest of
            # the 28, for the eager iterate jobs.
            # pricing_summary and brand_volume are left out because their
            # results differ from their oracles on some seeds (a rounded sum
            # on a half cent); brand_price_quantity_slope, not a headline
            # query, stands in for brand_volume: the same lineitem x part
            # broadcast join grouped by brand, with exact integer results.
            # hive_compound_types, not a headline query either, adds the one
            # cheap write through sources.writers; it loads every table,
            # which this workload generates anyway.
            queries=(
                "revenue_by_nation",
                "brand_price_quantity_slope",
                "supplier_rank_in_nation",
                "user_session_counts",
                "word_count",
                "cooccurrence_pairs",
                "knn_predictions_routed",
                "pagerank_top20",
                "hive_compound_types",
            ),
            tables=ALL_TABLES,
            pass_s=9.0,
        ),
        Workload(
            name="ingest_sf0.01",
            why=(
                "a CDC replay through the keyed upsert sink, read back by version: "
                "streaming.sinks, sources.writers.keyed_upsert and micro-batches, which headline never enters"
            ),
            # keyed_table_time_travel replays events as three micro-batches
            # into streaming.sinks.run_keyed_upsert_sink. Of the queries that
            # reach that sink it settles fastest after a cold run (8.7, 7.3,
            # 7.4, 7.1 s on 4 cores against 11.9, 13.1, 10.8, 8.7 s for
            # streaming_upsert_state); the other ingest queries are left out
            # to keep a run near a minute (see BASELINE.md). Its first warm
            # run is still the slowest and the noisiest (11-17 s over six
            # seeds on a busy machine), so the median is taken over three.
            queries=("keyed_table_time_travel",),
            tables=("events",),
            pass_s=8.0,
            min_passes=3,
            # an engine sample lasts about 7 s, a DuckDB sample 0.1 s: with
            # one DuckDB sample on each side, DuckDB's median moved by up to
            # a fifth from run to run on 4 cores (9.9 to 11.8 ms)
            duck_samples=5,
        ),
    )
}
