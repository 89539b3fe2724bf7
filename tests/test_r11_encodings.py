"""Optimization-equivalence tests: every size-gated fast path must return
exactly the rows its ungated (string / single-pass) sibling returns.

- ``queries._encode_tokens`` is the one word-id dictionary: above
  ``_GRAPH_ENCODE_MIN_BYTES`` every word-graph query maps tokens to
  ORDER-PRESERVING rank int64s before the pair build, runs the pair
  self-join/aggregate and the graph loop on ints, and decodes its
  vertex-sized output (label propagation's labels are values AND keys with
  an ``asc(label)`` tie-break, so hash ids would resolve ties differently);
- ``curation.chunk_dedup`` switches to the keys-not-payload split (guide
  §8) above ``_SPLIT_SHUFFLE_MIN_BYTES``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mapreduce_big_data_processing_spark import queries as Q
from mapreduce_big_data_processing_spark.operators import curation as C
from mapreduce_big_data_processing_spark.operators import graph as G


def test_encode_tokens_ids_sort_as_words(spark, monkeypatch):
    """Rank ids sort exactly as the words do in Spark's byte order
    ('Z' < 'a', a non-ASCII word last), and LPA over ids decoded ≡ LPA
    over strings, including a same-score TIE at node m (labels 'Z' and
    'a', equal summed weight): the ascending-label tie-break must pick
    'Z' on both paths — the property that forces rank ids."""
    edges = [
        ("Z", "m", 1.0),
        ("a", "m", 1.0),  # the tie at m
        ("Z", "a", 2.0),
        ("a", "Z", 2.0),
        ("c", "d", 1.0),
        ("d", "c", 1.0),
        ("m", "c", 0.5),
        ("é", "Zz", 1.0),
    ]
    words = sorted({w for e in edges for w in e[:2]})
    toks = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, word string"
    )
    monkeypatch.setattr(Q, "_GRAPH_ENCODE_MIN_BYTES", 0)
    _, vocab = Q._encode_tokens(toks, toks)
    by_id = [r.word for r in vocab.orderBy("wid").collect()]
    assert by_id == sorted(words, key=lambda w: w.encode())
    assert by_id.index("Z") < by_id.index("a") < by_id.index("é")
    assert [r.wid for r in vocab.orderBy("wid").collect()] == list(range(len(words)))

    df = spark.createDataFrame(edges, "src string, dst string, weight double")
    base = {
        r.node: r.label for r in G.label_propagation(df, max_iter=3).collect()
    }
    assert base["m"] == "Z"  # the tie resolved to the smaller label
    sid = vocab.select(F.col("word").alias("src"), F.col("wid").alias("s"))
    did = vocab.select(F.col("word").alias("dst"), F.col("wid").alias("d"))
    enc_edges = df.join(sid, "src").join(did, "dst").select(
        F.col("s").alias("src"), F.col("d").alias("dst"), "weight"
    )
    labels = G.label_propagation(enc_edges, max_iter=3)
    dec = Q._decode_nodes(Q._decode_nodes(labels, vocab), vocab, "label")
    assert {r.node: r.label for r in dec.collect()} == base


def test_word_graph_encode_matches_string(spark, sf_dir, monkeypatch):
    """The vocab-encoded word-graph build (ints through the pair join,
    aggregate, normalization, loop) must be row-identical to the string
    build for every consumer shape: ranked floats (pagerank_top20),
    integer structure (word_triangle_counts), an encoded ROOT plus hop
    labels (word_graph_bfs), and node AND label columns decoded
    (label_propagation)."""
    for name in (
        "pagerank_top20",
        "word_triangle_counts",
        "word_graph_bfs",
        "word_graph_sssp",
        "label_propagation",
    ):
        spark.catalog.clearCache()
        base = sorted(map(tuple, Q.QUERIES[name](spark, sf_dir).collect()))
        monkeypatch.setattr(Q, "_GRAPH_ENCODE_MIN_BYTES", 0)
        spark.catalog.clearCache()
        enc = sorted(map(tuple, Q.QUERIES[name](spark, sf_dir).collect()))
        monkeypatch.undo()
        assert enc == base, name


def test_chunk_dedup_split_shape_matches_window_shape(spark, monkeypatch):
    """chunk_dedup's keys-not-payload shape (decision pass on fingerprints,
    text re-attached once) ≡ the single-pass window shape, covering: cross-
    doc duplicate chunks, a fully-deduplicated doc (text_kept=''), a
    trailing partial chunk, and an empty doc (absent from both outputs)."""
    docs = spark.createDataFrame(
        [
            (1, "aa bb cc dd ee"),  # chunks: 'aa bb', 'cc dd', 'ee'
            (2, "aa bb xx yy"),  # 'aa bb' dups doc 1
            (3, "aa bb cc dd"),  # fully duplicated -> ''
            (4, ""),  # no chunks -> absent
            (5, "zz"),
        ],
        "doc_id long, text string",
    )
    base = sorted(
        map(tuple, C.chunk_dedup(docs, words_per_chunk=2).collect())
    )
    assert (3, "", 2, 0) in base and all(r[0] != 4 for r in base)
    monkeypatch.setattr(C, "_SPLIT_SHUFFLE_MIN_BYTES", 0)
    split = sorted(
        map(tuple, C.chunk_dedup(docs, words_per_chunk=2).collect())
    )
    assert split == base


def test_est_scan_partitions_small_scan_is_one(spark, sf_dir):
    """The stats-based split estimate that replaced rdd.getNumPartitions()
    on the fan-out gates: a sub-MB parquet scan estimates one split."""
    from mapreduce_big_data_processing_spark.operators.similarity import (
        _est_scan_partitions,
    )
    from mapreduce_big_data_processing_spark import catalog

    df = catalog.load(spark, "embeddings", sf_dir).select("embedding")
    assert _est_scan_partitions(df) == 1


def test_fan_out_confirms_a_skip_with_the_physical_partitions(spark, monkeypatch):
    """When the byte estimate says the frame already spans every core, the
    fan-out still checks the physical partition count: a one-partition
    lineage that statistics call large must be fanned out."""
    from mapreduce_big_data_processing_spark.operators import similarity as S

    dp = spark.sparkContext.defaultParallelism
    one = spark.range(0, 100, 1, 1)
    monkeypatch.setattr(S, "_plan_size_bytes", lambda df: 1 << 40)  # 1 TiB
    assert S._est_scan_partitions(one) >= dp  # the estimate says skip
    assert S.fan_out(one).rdd.getNumPartitions() == dp
    wide = spark.range(0, 100, 1, dp)
    assert S.fan_out(wide) is wide
