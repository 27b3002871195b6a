"""Training-data curation queries — the round-4 widening of the
LLM-pipeline surface (SURVEY §7 step 6 / the north-star brief's
"operations a large-scale training-data pipeline would need").

One driver-gated query per operator in :mod:`.operators.quality`:

* ``quality_gopher_rules`` — Gopher/MassiveText-style document filter
* ``text_repetition``     — duplicate n-gram fraction (boilerplate/spam signal)
* ``doc_chunking``        — overlapping token-window chunks (RAG/context prep)
* ``pack_token_budget``   — GPT-style concat-then-chunk sequence packing
* ``pack_greedy_exact``   — exact per-bucket greedy packing (grouped-map
  fold; recursive-CTE oracle)
* ``sample_stratified``   — exact per-stratum deterministic sampling
* ``text_tfidf_topk``     — top-k salient terms per doc (tf·idf)
* ``decontaminate_ngram`` — n-gram-overlap test-set decontamination
* ``pii_redact``          — regex PII scrub with hit counts
* ``embedding_quantize_int8`` — int8 ANN-storage quantization receipt
* ``join_salted_skew``    — hot-key-safe salted equi join (skew discipline)
* ``layout_partition_pruned_agg`` / ``layout_bucketed_join_agg`` —
  storage-layout disciplines (directory pruning; shuffle-free bucketed join)
* ``sketch_cms_heavy_hitters`` — count-min sketch frequency estimation
* ``sample_weighted_quality`` / ``sample_temperature_mixture`` —
  A-ES weighted sampling; n^α source-mixture sampling
* ``pipeline_curate_pack`` — the four-stage curation pipeline as one plan
* ``sim_topk_pq``         — product-quantization ANN (asymmetric distance)
* ``search_hybrid_rrf``   — reciprocal-rank-fusion hybrid retrieval

The per-doc operators stay in whole-stage codegen (no UDFs; the one
grouped-map fold is ``pack_greedy``'s sequential algorithm); shuffles
only on uniform keys; small sides broadcast (see the module docstring
of ``operators/quality.py`` for the 100 TB argument per operator).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_rakam_kafka_spark.operators import datasets, quality
from presto_rakam_kafka_spark.queries import _t, query

EMBED_DIM = 64  # fixture embeddings.embedding dimension (TESTDATA.md)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "documents")


@query(
    "quality_gopher_rules",
    oracle=quality.quality_rules_oracle("documents", "text", "doc_id"),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-quality rule filter (min words / word-length band /
    stopword presence / repetition cap) + keep verdict."""
    return quality.quality_rules(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "quality_logreg_score",
    oracle=quality.quality_logreg_score_oracle("documents", "text", "doc_id"),
)
def quality_logreg_score_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (the DCLM / fastText-classifier
    curation step): logistic score over four shuffle-free per-doc
    features with fixed literal weights — the serving half of a
    trained quality classifier as ONE codegen projection, zero
    shuffles at any scale."""
    return quality.quality_logreg_score(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "text_repetition",
    oracle=quality.repetition_stats_oracle("documents", "text", "doc_id", n=3),
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate 3-gram fraction per doc — the MassiveText repetition
    signal; single-pass projection."""
    return quality.repetition_stats(_docs(spark, sf_dir), "text", "doc_id", n=3)


@query(
    "doc_chunking",
    oracle=quality.chunk_documents_oracle("documents", "text", "doc_id", chunk=32, overlap=8),
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token chunks, stride 24 — context-window prep;
    explode fan-out, chunks stay in the doc's partition (no shuffle)."""
    return quality.chunk_documents(_docs(spark, sf_dir), "text", "doc_id", chunk=32, overlap=8)


@query(
    "pack_token_budget",
    oracle=quality.pack_sequences_oracle("documents", "text", "doc_id", budget=256),
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-then-chunk sequence packing into 256-token packs over a
    deterministic md5 order; one window pass + one agg."""
    return quality.pack_sequences(_docs(spark, sf_dir), "text", "doc_id", budget=256)


@query(
    "pack_token_budget_partitioned",
    oracle=quality.pack_sequences_partitioned_oracle(
        "documents", "text", "doc_id", budget=256
    ),
)
def pack_token_budget_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-parallel packing: window keyed by an md5-hex prefix
    (16 balanced buckets), pack ids dense within prefix — every sort
    machine-local (``hashpartitioning(pack_prefix)``, plan-asserted),
    no global single-task window. The production form of
    ``pack_token_budget``."""
    return quality.pack_sequences_partitioned(
        _docs(spark, sf_dir), "text", "doc_id", budget=256
    )


@query(
    "sample_stratified",
    oracle=quality.stratified_sample_oracle("documents", "lang", "doc_id", frac=0.2),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly ceil(20% × |stratum|) docs per language, hash-ordered —
    deterministic where sampleBy is only proportional in expectation."""
    return quality.stratified_sample(_docs(spark, sf_dir), "lang", "doc_id", frac=0.2)


@query(
    "text_tfidf_topk",
    oracle=quality.tfidf_top_terms_oracle("documents", "text", "doc_id", k=3),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 tf·idf terms per doc; document-frequency table is
    vocabulary-sized and broadcast."""
    return quality.tfidf_top_terms(_docs(spark, sf_dir), "text", "doc_id", k=3)


@query(
    "decontaminate_ngram",
    oracle=quality.decontaminate_oracle(
        "documents", "text", "doc_id", "source", "src0", n=5
    ),
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: drop training docs (source != src0)
    sharing any distinct 5-gram with the benchmark slice (source =
    src0); benchmark shingles broadcast, training side anti-joins."""
    return quality.decontaminate(
        _docs(spark, sf_dir), "text", "doc_id", "source", "src0", n=5
    )


@query(
    "dataset_shard_stats",
    oracle=datasets.shard_stats_oracle("documents", "text", "doc_id", num_shards=8),
)
def dataset_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-export manifest rows: deterministic md5 shard
    assignment (stable across engines/reruns/cluster sizes, unlike
    round-robin repartition), per-shard doc/token counts and an
    order-insensitive 48-bit-md5-sum checksum — what `export_dataset`
    writes to _MANIFEST.json and `verify_export` recomputes before
    training. One projection + one N-row groupBy."""
    return datasets.shard_stats(_docs(spark, sf_dir), "text", "doc_id", num_shards=8)


_PROFILE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]


@query(
    "profile_orders",
    oracle=datasets.profile_table_oracle("orders", _PROFILE_COLS),
)
def profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (round 7): row/null/EXACT-distinct
    counts and min/max per column in ONE aggregation pass + a stack
    unpivot of the single result row — never a job per column. The
    Expand the multi-distinct plans is the honest cost of exactness;
    approx_count_distinct is the 100 TB swap. Portable column types
    only (see operators/datasets.py:profile_table on double
    rendering)."""
    return datasets.profile_table(
        _t(spark, sf_dir, "orders").select(*_PROFILE_COLS), _PROFILE_COLS
    )


@query(
    "profile_orders_approx",
    oracle=datasets.profile_table_oracle(
        "orders", _PROFILE_COLS, include_distinct=False
    ),
)
def profile_orders_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB profile as a FLAG, not an edit (round 8, VERDICT
    next-4): `profile_table(approx=True)` swaps every exact
    COUNT(DISTINCT) for approx_count_distinct (HLL++), which deletes
    the Expand from the plan (no N×-the-input replication — asserted
    in tests/test_plans.py) and leaves one partial-agg pass with
    constant sketch state per column. Counts, nulls, and min/max stay
    EXACT and are what this row hash-gates; the HLL estimate is not
    engine-replayable, so it is dropped from the gate projection and
    asserted within its rsd in a unit test instead
    (`test_profile_approx_within_rsd_no_expand`)."""
    return datasets.profile_table(
        _t(spark, sf_dir, "orders").select(*_PROFILE_COLS),
        _PROFILE_COLS,
        approx=True,
    ).drop("n_distinct")


@query(
    "decontaminate_report",
    oracle=quality.decontamination_report_oracle(
        "documents", "text", "doc_id", "source", "src0", n=5
    ),
)
def decontaminate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decontamination AUDIT: per benchmark doc (source = src0),
    how many training docs share a distinct 5-gram and how many hits —
    the governance report read before the anti-join filter drops
    anything. Benchmark shingles broadcast; one exploded join; output
    bounded by the benchmark size."""
    return quality.decontamination_report(
        _docs(spark, sf_dir), "text", "doc_id", "source", "src0", n=5
    )


@query(
    "pii_redact",
    oracle=quality.pii_redact_oracle(
        f"(SELECT doc_id, {quality.pii_augmented_text_duckdb('text', 'doc_id')} AS text"
        " FROM documents) aug",
        "text",
        "doc_id",
    ),
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII scrub (emails, phone numbers) with per-doc hit counts
    and the scrubbed-text md5. The fixture corpus carries no PII, so
    both engines first synthesize the same deterministic PII-bearing
    projection — the redactor is exercised on real hits."""
    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(quality.pii_augmented_text_spark("text", "doc_id")).alias("text"),
    )
    return quality.pii_redact(aug, "text", "doc_id")


@query(
    "embedding_quantize_int8",
    oracle=quality.quantize_int8_oracle("embeddings", "embedding", "vec_id", dim=EMBED_DIM),
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization receipt: scale, max abs
    reconstruction error, cosine(original, dequantized). Single-pass
    HOF projection; the receipt that justifies a 4× smaller ANN
    candidate store at 100 TB."""
    return quality.quantize_int8(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id", dim=EMBED_DIM
    )


@query(
    "pack_greedy_exact",
    oracle=quality.pack_greedy_oracle("documents", "text", "doc_id", budget=256, num_buckets=8),
)
def pack_greedy_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-bucket greedy packing (every pack ≤ 256 tokens) via an
    Arrow grouped-map fold — the sequential algorithm a window can't
    express; oracle replays it as a recursive CTE."""
    return quality.pack_greedy(_docs(spark, sf_dir), "text", "doc_id", budget=256, num_buckets=8)


@query(
    "join_salted_skew",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe equi join: fact rows salted by event_id, customer
    dim replicated 16×, joined on (key, salt) under a pinned sort-merge
    strategy — one hot user_id lands on 16 reducers instead of one.
    Result provably identical to the plain join (the oracle IS the
    plain join)."""
    from presto_rakam_kafka_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    joined = salted_join(
        ev, cust, "user_id", "c_custkey", "event_id", salt_buckets=16, join_hint="merge"
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "layout_partition_pruned_agg",
    oracle="""
    SELECT user_id % 10 AS user_bucket, count(*) AS n,
           round(sum(value), 2) AS sum_value
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id % 10
    """,
)
def layout_partition_pruned_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned scan: events re-laid-out hive-partitioned by
    event_type, then filtered on the partition column — the scan opens
    ONLY the purchase directory (PartitionFilters, plan-asserted in
    tests); results provably equal the plain-layout filter."""
    from presto_rakam_kafka_spark.operators import layout

    ev = _t(spark, sf_dir, "events")
    path = layout.stage_partitioned(spark, ev, sf_dir, "event_type")
    pruned = layout.read_pruned(spark, path, "event_type", "purchase")
    return pruned.select((F.col("user_id") % 10).alias("user_bucket"), "value").groupBy(
        "user_bucket"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))


@query(
    "layout_bucketed_join_agg",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def layout_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join: events and customer bucketed
    identically on the join key at write time, so the join plans with
    NO exchange on either side (asserted in tests) — the repeated-join
    shuffle paid once at ingest. Results equal the plain join."""
    from presto_rakam_kafka_spark.operators import layout

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    lt = layout.stage_bucketed(spark, ev, sf_dir, "events_bkt", "user_id", 8)
    rt = layout.stage_bucketed(spark, cust, sf_dir, "customer_bkt", "c_custkey", 8)
    joined = layout.bucketed_join(spark, lt, rt, "user_id", "c_custkey")
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


from presto_rakam_kafka_spark.operators.sketches import cms_heavy_hitters_oracle


@query(
    "sketch_cms_heavy_hitters",
    oracle=cms_heavy_hitters_oracle("events", "user_id", k=10),
)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch top-10 users by estimated event frequency with
    the exact count alongside (est ≥ exact, the CMS one-sided bound).
    Sketch is d×w counters (constant size at any input scale),
    broadcast back for estimation; built from the engine-portable
    seeded hash family so DuckDB replays it bit-identically."""
    from presto_rakam_kafka_spark.operators.sketches import cms_heavy_hitters

    return cms_heavy_hitters(_t(spark, sf_dir, "events"), "user_id", k=10)



@query(
    "sample_weighted_quality",
    oracle=quality.weighted_sample_oracle(
        "documents", "1.0 + n_chars / 1000.0", "doc_id", k=100
    ),
)
def sample_weighted_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES with
    hash-derived uniforms): longer docs proportionally likelier, same
    100 winners on every run/retry/partitioning."""
    return quality.weighted_sample(
        _docs(spark, sf_dir), "1.0 + n_chars / 1000.0", "doc_id", k=100
    )


@query(
    "sample_temperature_mixture",
    oracle=quality.temperature_mixture_oracle(
        "documents", "lang", "doc_id", total=200, alpha=0.5
    ),
)
def sample_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source mixture (alpha = 0.5 upweights
    low-resource languages): each lang's share of the 200-doc budget is
    proportional to n^0.5, selections hash-deterministic within lang."""
    return quality.temperature_mixture(
        _docs(spark, sf_dir), "lang", "doc_id", total=200, alpha=0.5
    )


def _pipeline_oracle() -> str:
    """Chained-CTE oracle for the end-to-end curation pipeline: each
    stage's oracle builder feeds the next stage's table reference."""
    rules = quality.quality_rules_oracle("documents", "text", "doc_id")
    decon = quality.decontaminate_oracle("dedup", "text", "doc_id", "source", "src0", n=5)
    return f"""
    WITH rules AS ({rules}),
    kept AS (
      SELECT d.* FROM documents d JOIN rules r ON d.doc_id = r.doc_id WHERE r.keep),
    dd AS (
      SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)),
    dedup AS (
      SELECT k.* FROM kept k JOIN dd ON k.doc_id = dd.doc_id),
    decon AS ({decon}),
    final AS (
      SELECT d.* FROM dedup d JOIN decon x ON d.doc_id = x.doc_id),
    t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS okey,
             substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS pack_prefix
      FROM final),
    c AS (
      SELECT pack_prefix, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY pack_prefix ORDER BY okey, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t)
    SELECT pack_prefix,
           CAST(floor((cum - n_tokens) / 256) AS BIGINT) AS pack_id,
           count(*) AS n_docs, sum(n_tokens)::BIGINT AS pack_tokens
    FROM c GROUP BY 1, 2
    """


@query("pipeline_curate_pack", oracle=_pipeline_oracle())
def pipeline_curate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline end-to-end AS ONE CATALYST PLAN: Gopher
    quality filter → exact dedup → 5-gram benchmark decontamination →
    GPT-style sequence packing, composed from the individual operators
    with no materialization between stages — Catalyst fuses the chain
    (column pruning drops unused doc fields per stage, the semi-join
    survivors pipeline into the next filter). The packing tail is the
    PARTITION-PARALLEL form (md5-prefix-keyed window — no global
    single-task sort, the r4 scale-killer removed); the oracle replays
    the same four stages as chained CTEs."""
    from presto_rakam_kafka_spark.operators import dedup as dedup_ops

    docs = _docs(spark, sf_dir)
    keep_ids = quality.quality_rules(docs, "text", "doc_id").filter("keep").select("doc_id")
    kept = docs.join(keep_ids, "doc_id")
    deduped = dedup_ops.exact_dedup(kept, "text", "doc_id")
    survivor_ids = quality.decontaminate(deduped, "text", "doc_id", "source", "src0", n=5)
    final = deduped.join(survivor_ids, "doc_id")
    return quality.pack_sequences_partitioned(final, "text", "doc_id", budget=256)


from presto_rakam_kafka_spark.operators.similarity import pq_topk_oracle


@query(
    "sim_topk_pq",
    oracle=pq_topk_oracle("embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5),
)
def sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the IVF-PQ scale architecture's other
    half): corpus encoded to 4 sub-codes via seeded codebooks, queries
    score candidates through m×ksub lookup tables (asymmetric distance)
    — candidates never touch the raw vectors. Approx scores returned
    for exact re-ranking downstream."""
    from presto_rakam_kafka_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(emb, emb.filter(F.col("vec_id") < 10), "embedding", "vec_id", dim=EMBED_DIM, k=5)



#: Per-leg candidate-list cap for RRF fusion. Each retrieval leg
#: contributes its top-N candidates (TakeOrderedAndProject — no global
#: rank over the whole corpus, VERDICT r4 plan note); fusion then only
#: sees docs present in BOTH capped lists, which is the production
#: candidate-list contract (each leg is served by its index's top-N).
RRF_CANDIDATES = 500


from presto_rakam_kafka_spark.operators.similarity import ivfpq_topk_oracle


@query(
    "sim_topk_ivfpq",
    oracle=ivfpq_topk_oracle(
        "embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5
    ),
)
def sim_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed — the production ANN architecture (r4 verdict
    named the pairing): the coarse quantizer prunes each query to its
    nprobe inverted lists, PQ asymmetric distance scores only those
    candidates via lookup tables. Corpus side is one projection whose
    output IS the stored index (list id + 4-byte code per vector);
    scored volume drops from n to ~n·nprobe/num_centroids."""
    from presto_rakam_kafka_spark.operators.similarity import ivfpq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 10), "embedding", "vec_id",
        dim=EMBED_DIM, k=5,
    )


def _hybrid_rrf_oracle() -> str:
    from presto_rakam_kafka_spark.functions.hashing import jaccard_duckdb, shingles_duckdb
    from presto_rakam_kafka_spark.operators.dedup import cosine_expr_duckdb

    jac = jaccard_duckdb("q.sh", "c.sh")
    cos = cosine_expr_duckdb("qe.embedding", "ce.embedding", EMBED_DIM)
    return f"""
    WITH sh AS (
      SELECT doc_id, {shingles_duckdb('text', 3)} AS sh FROM documents),
    lex AS (
      SELECT c.doc_id,
             row_number() OVER (ORDER BY round({jac}, 6) DESC, c.doc_id) AS r_lex
      FROM sh c, (SELECT sh FROM sh WHERE doc_id = 0) q
      WHERE c.doc_id != 0
      QUALIFY r_lex <= {RRF_CANDIDATES}),
    vec AS (
      SELECT ce.vec_id AS doc_id,
             row_number() OVER (ORDER BY round({cos}, 6) DESC, ce.vec_id) AS r_vec
      FROM embeddings ce, (SELECT embedding FROM embeddings WHERE vec_id = 0) qe
      WHERE ce.vec_id != 0
      QUALIFY r_vec <= {RRF_CANDIDATES})
    SELECT doc_id, r_lex, r_vec, rrf, rank FROM (
      SELECT l.doc_id, l.r_lex, v.r_vec,
             round(1.0 / (60 + l.r_lex) + 1.0 / (60 + v.r_vec), 8) AS rrf,
             row_number() OVER (
               ORDER BY round(1.0 / (60 + l.r_lex) + 1.0 / (60 + v.r_vec), 8) DESC,
                        l.doc_id) AS rank
      FROM lex l JOIN vec v ON l.doc_id = v.doc_id)
    WHERE rank <= 10
    """


@query("search_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: a lexical ranking
    (3-shingle Jaccard to the query doc) and a vector ranking (cosine
    to the query embedding) fuse as Σ 1/(60+rank) — the standard RRF
    constant. Each leg contributes its top-``RRF_CANDIDATES`` list via
    ``orderBy().limit()`` (TakeOrderedAndProject, no global rank
    window); at 100 TB each leg is served by its index (MinHash-LSH /
    IVF-PQ from this package) and RRF fuses the two bounded candidate
    lists exactly as here."""
    from pyspark.sql import Window

    from presto_rakam_kafka_spark.functions.hashing import jaccard_spark, shingles_spark
    from presto_rakam_kafka_spark.operators.dedup import cosine_expr

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(shingles_spark("text", 3)).alias("sh")
    )
    qdoc = F.broadcast(docs.filter("doc_id = 0").select(F.col("sh").alias("q_sh")))
    lex = (
        docs.filter("doc_id != 0")
        .crossJoin(qdoc)
        .select(
            "doc_id",
            F.expr(f"round({jaccard_spark('q_sh', 'sh')}, 6)").alias("_j"),
        )
        # TakeOrderedAndProject caps the candidate list; the rank window
        # then runs over ≤ RRF_CANDIDATES rows, not the whole corpus.
        .orderBy(F.desc("_j"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
        .withColumn(
            "r_lex",
            F.row_number().over(Window.orderBy(F.desc("_j"), F.asc("doc_id"))),
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = F.broadcast(
        emb.filter("vec_id = 0").select(F.col("embedding").alias("q_emb"))
    )
    vec = (
        emb.filter("vec_id != 0")
        .crossJoin(qvec)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(f"round({cosine_expr('q_emb', 'embedding')}, 6)").alias("_c"),
        )
        .orderBy(F.desc("_c"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
        .withColumn(
            "r_vec",
            F.row_number().over(Window.orderBy(F.desc("_c"), F.asc("doc_id"))),
        )
    )
    fused = (
        lex.select("doc_id", "r_lex")
        .join(vec.select("doc_id", "r_vec"), "doc_id")
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            # cast: Spark `1.0 / int` arithmetic is DECIMAL, DuckDB's
            # is DOUBLE — align the hash-compared type.
            F.expr("cast(round(1.0 / (60 + r_lex) + 1.0 / (60 + r_vec), 8) as double)").alias(
                "rrf"
            ),
        )
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
        .select("doc_id", "r_lex", "r_vec", "rrf", "rank")
    )


from presto_rakam_kafka_spark.streaming.neardup import incremental_neardup_oracle


@query(
    "stream_neardup_incremental",
    oracle=incremental_neardup_oracle("documents", "text", "doc_id", n=3, threshold=0.8),
)
def stream_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup detection: documents replay in id order as
    4 micro-batches; each batch sketches only itself and probes the
    accumulated signature store (band-bucket index + shingle sets),
    flagging any doc whose exact Jaccard to an earlier doc ≥ 0.8.
    Exactly-once via epoch-keyed overwrite writes. The flagged set
    equals the batch semantics "∃ a < b with J ≥ t ⇒ flag b"."""
    from presto_rakam_kafka_spark.streaming import neardup, runner

    staged = runner.stage_chunked_events(
        spark, sf_dir, table="documents", num_chunks=4, order_col="doc_id"
    )
    schema = _docs(spark, sf_dir).schema
    stream = runner.read_file_stream(spark, staged, schema)
    return neardup.incremental_neardup(
        spark, stream, "text", "doc_id", n=3, threshold=0.8
    )



def _pagerank_oracle(iterations: int = 3, k: int = 20) -> str:
    iters, prev = "", "r0"
    for t in range(1, iterations + 1):
        iters += f""",
    contrib{t} AS (
      SELECT e.dst AS node, sum({prev}.r / d.outdeg) AS c
      FROM edges e JOIN deg d ON e.src = d.src JOIN {prev} ON e.src = {prev}.node
      GROUP BY e.dst),
    r{t} AS (
      SELECT nd.node, 0.15 / (SELECT n_nodes FROM n) + 0.85 * coalesce(c.c, 0) AS r
      FROM nodes nd LEFT JOIN contrib{t} c ON nd.node = c.node)"""
        prev = f"r{t}"
    return f"""
    WITH e0 AS (
      SELECT DISTINCT 'p' || CAST(l_partkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    n AS (SELECT count(*) AS n_nodes FROM nodes),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / (SELECT n_nodes FROM n) AS r FROM nodes){iters}
    SELECT node, rank_score, rk FROM (
      SELECT node, round(r, 6) AS rank_score,
             row_number() OVER (ORDER BY round(r, 6) DESC, node) AS rk
      FROM r{iterations})
    WHERE rk <= {k}
    """


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-iteration PageRank over the symmetrized part↔supplier graph
    (distinct lineitem edges): per iteration one edges⋈ranks shuffle
    join + one dst aggregation — the canonical distributed power step,
    oracle-replayed as unrolled CTEs. Top-20 by rank.

    Cross-engine tolerance: ranks are double sums with no defined
    summation order, so the last few ulps differ between Spark's and
    DuckDB's reduction trees. The gate compares ``round(r, 6)``: the
    order-dependent drift is ≲1e-13 relative while rounding boundaries
    are 5e-7 apart, so the flip probability per node is ~1e-6 — an
    explicit epsilon, not last-ulp luck (ADVICE r4). The top-k is
    ``orderBy().limit()`` (TakeOrderedAndProject — per-partition heaps,
    no global sort); the rank column is then a window over only the
    k surviving rows."""
    from pyspark.sql import Window

    from presto_rakam_kafka_spark.operators.clusters import pagerank

    li = _t(spark, sf_dir, "lineitem")
    e0 = li.select(
        F.expr("concat('p', cast(l_partkey as string))").alias("src"),
        F.expr("concat('s', cast(l_suppkey as string))").alias("dst"),
    ).distinct()
    edges = e0.unionByName(e0.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    ranks = pagerank(edges, "src", "dst", iterations=3)
    w = Window.orderBy(F.desc("rank_score"), F.asc("node"))
    return (
        ranks.select("node", F.round("r", 6).alias("rank_score"))
        .orderBy(F.desc("rank_score"), F.asc("node"))
        .limit(20)
        .withColumn("rk", F.row_number().over(w))
    )


# =====================================================================
# BM25 lexical retrieval (round 5)
# =====================================================================

from presto_rakam_kafka_spark.operators.text import (
    bm25_topk,
    bm25_topk_multi,
    bm25_topk_multi_oracle,
    bm25_topk_oracle,
)


@query(
    "search_bm25",
    oracle=bm25_topk_oracle("documents", "text", "doc_id", query_id=0, k=10),
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the token set of doc 0 — the saturating,
    length-normalized lexical ranker (Lucene idf variant) that serves
    as the lexical leg of hybrid retrieval. Postings build is one
    explode + (doc, term) count; df/query tables broadcast; top-k is
    TakeOrderedAndProject."""
    return bm25_topk(_docs(spark, sf_dir), "text", "doc_id", query_id=0, k=10)


@query(
    "search_bm25_multi",
    oracle=bm25_topk_multi_oracle("documents", "text", "doc_id", (0, 1, 2, 3), k=10),
)
def search_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against a query TABLE (docs 0–3) — production retrieval
    scores a batch of queries per corpus scan: the (query_id, term)
    table broadcasts, the postings scan happens once for the whole
    batch, and top-10 per query is a partitionBy(query_id) rank
    (partition-local after one (query_id, doc) shuffle; broadcasts
    plan-asserted in tests). Generalizes `search_bm25`'s single-query
    demo shape per VERDICT r5 next-4."""
    from presto_rakam_kafka_spark.operators.text import bm25_topk_multi

    return bm25_topk_multi(
        _docs(spark, sf_dir), "text", "doc_id", (0, 1, 2, 3), k=10
    )


# =====================================================================
# Epoch-weighted mixture materialization (round 5)
# =====================================================================

#: Per-source epoch weights for the mixture query: high-quality
#: sources see >2 epochs, mid-tier 1, the long tail a fractional
#: epoch — the standard pretraining mixture shape. Deterministic
#: literals so the DuckDB oracle replays the identical CASE.
MIX_WEIGHTS = {f"src{i}": 2.25 for i in range(5)} | {f"src{i}": 1.0 for i in range(5, 10)}
MIX_DEFAULT_WEIGHT = 0.4


@query(
    "mix_sources_epochs",
    oracle=quality.epoch_mixture_oracle(
        "documents", "source", "doc_id", MIX_WEIGHTS, MIX_DEFAULT_WEIGHT
    ),
)
def mix_sources_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-weighted mixture materialization: weight 2.25 ⇒ two full
    epochs + a deterministic hash-chosen quarter of docs a third time;
    weight 0.4 ⇒ a 40% single-epoch subsample. Shuffle-free in-place
    fan-out (literal CASE weight + portable md5 coin +
    explode(sequence)) — the restart-safe way a 100 TB mixture is
    written."""
    return quality.epoch_mixture(
        _docs(spark, sf_dir), "source", "doc_id", MIX_WEIGHTS, MIX_DEFAULT_WEIGHT
    )


@query(
    "decontaminate_embedding",
    oracle=quality.decontaminate_embedding_oracle(
        "embeddings", "embedding", "vec_id", "vec_id % 50 = 0",
        dim=EMBED_DIM, threshold=0.35,
    ),
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: training vectors within cosine
    0.35 of any benchmark vector (the vec_id%50 slice) are dropped —
    catches paraphrased leakage the n-gram pass misses. Benchmark
    broadcast + anti join, corpus never shuffles."""
    return quality.decontaminate_embedding(
        _t(spark, sf_dir, "embeddings"), "embedding", "vec_id",
        "vec_id % 50 = 0", threshold=0.35,
    )


@query(
    "layout_sorted_skipping_agg",
    oracle="""
    SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
    FROM lineitem WHERE l_orderkey BETWEEN 1000 AND 2000
    GROUP BY l_returnflag
    """,
)
def layout_sorted_skipping_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-clustered scan: lineitem re-laid-out range-partitioned +
    sorted on l_orderkey, then range-filtered — tight row-group min/max
    stats let the parquet reader skip every group outside the range
    (receipt in tests via a pyarrow footer walk: the predicate touches
    a small fraction of row groups in the sorted layout vs ~all in the
    natural layout). Results provably equal the plain-layout filter."""
    from presto_rakam_kafka_spark.operators import layout

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    path = layout.stage_sorted(spark, li, sf_dir, "l_orderkey")
    return (
        spark.read.parquet(path)
        .filter(F.col("l_orderkey").between(1000, 2000))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


@query(
    "layout_zorder_agg",
    oracle="""
    SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS sum_qty
    FROM lineitem
    WHERE l_orderkey BETWEEN 3000 AND 4500 AND l_partkey BETWEEN 500 AND 700
    GROUP BY l_returnflag
    """,
)
def layout_zorder_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ordered scan: lineitem clustered on the Morton interleave of
    (l_orderkey, l_partkey), then filtered on ranges of BOTH columns —
    the z-curve keeps each row group's min/max narrow in both dims, so
    the 2-D predicate skips groups a single-column sort can't (receipt
    in tests: pyarrow footer walk comparing z-ordered vs
    orderkey-sorted vs natural). Results equal the plain-layout
    filter."""
    from presto_rakam_kafka_spark.operators import layout

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity"
    )
    path = layout.stage_zordered(spark, li, sf_dir, "l_orderkey", "l_partkey")
    return (
        spark.read.parquet(path)
        .filter(
            F.col("l_orderkey").between(3000, 4500)
            & F.col("l_partkey").between(500, 700)
        )
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("sum_qty"))
    )


@query(
    "sim_topk_ivfpq_indexed",
    oracle=ivfpq_topk_oracle(
        "embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5,
        nprobe=4,
    ),
)
def sim_topk_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ against a PERSISTED index — build-once/probe-many: the
    coded corpus is written parquet-partitioned by inverted list at
    "ingest" (process-cached staging, like the layout queries), the
    query router computes the bounded probe-list union driver-side,
    and the probe scan carries a static ``list_id IN (...)`` filter
    that partition-prunes the index to only the probed lists' files
    (PartitionFilters plan-asserted in tests) — the ANN probe
    literally becomes a pruned scan. nprobe is wired end-to-end
    (router, probe, oracle all at 4 — the sweep's serving default;
    SCALE_NOTES §ann-recall)."""
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = sim.stage_ivfpq_index(
        spark, emb, sf_dir, "embedding", "vec_id", dim=EMBED_DIM
    )
    lists = sim.probe_lists_for(queries, "embedding", dim=EMBED_DIM, nprobe=4)
    index = spark.read.parquet(path)
    return sim.ivfpq_topk_from_index(
        index, queries, "embedding", "vec_id", dim=EMBED_DIM, k=5,
        nprobe=4, prune_lists=lists,
    )


from presto_rakam_kafka_spark.operators.similarity import ivfpq_refined_oracle


@query(
    "sim_topk_ivfpq_refined",
    oracle=ivfpq_refined_oracle(
        "embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5,
        nprobe=4, refine_factor=4,
    ),
)
def sim_topk_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with the EXACT RE-RANK stage (faiss IndexRefineFlat; r6
    verdict next-3): the persisted index stores raw vectors next to
    the codes, ADC keeps the top k·4 candidates per query, and exact
    cosine on those re-ranks the final top-5. The corpus-sized work is
    unchanged (pruned ADC scan over the probed lists); the exact stage
    touches 20 rows per query — this buys back the PQ quantization
    error, the dominant recall loss at fixture scale (SCALE_NOTES
    §ann-recall: recall@10 0.58 → 0.95 on the clustered 500k corpus at
    the serving default)."""
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = sim.stage_ivfpq_index(
        spark, emb, sf_dir, "embedding", "vec_id", dim=EMBED_DIM,
        store_vectors=True,
    )
    lists = sim.probe_lists_for(queries, "embedding", dim=EMBED_DIM, nprobe=4)
    index = spark.read.parquet(path)
    return sim.ivfpq_topk_from_index(
        index, queries, "embedding", "vec_id", dim=EMBED_DIM, k=5,
        nprobe=4, prune_lists=lists, refine_factor=4,
    )


@query(
    "sim_topk_ivfpq_serving",
    oracle=ivfpq_refined_oracle(
        "embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5,
        nprobe=4, refine_factor=4,
    ),
)
def sim_topk_ivfpq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The refined probe through the SERVING codec (round 8, VERDICT
    next-2): `probe_codec="pandas"` computes probe routing + ADC LUTs
    driver-side in numpy with the expressions' exact left-associated
    double accumulation and scores candidates in one Arrow
    `mapInPandas` — plan size constant in (m, ksub), vs 4096 generated
    LUT expressions at serving geometry (11× single-query, 5× at
    batch-50 on the 500k receipt, SCALE_NOTES §probe-codec). Same
    oracle as `sim_topk_ivfpq_refined` — this row proves the serving
    codec's VALUES against DuckDB at the oracle geometry; bit-equality
    with the expr codec at serving geometry (m=16, ksub=256) is
    asserted in `test_ivfpq_pandas_probe_equals_expr_probe`."""
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = sim.stage_ivfpq_index(
        spark, emb, sf_dir, "embedding", "vec_id", dim=EMBED_DIM,
        store_vectors=True,
    )
    lists = sim.probe_lists_for(queries, "embedding", dim=EMBED_DIM, nprobe=4)
    index = spark.read.parquet(path)
    return sim.ivfpq_topk_from_index(
        index, queries, "embedding", "vec_id", dim=EMBED_DIM, k=5,
        nprobe=4, prune_lists=lists, refine_factor=4, probe_codec="pandas",
    )


@query(
    "sim_topk_ivfpq_upsert",
    oracle=ivfpq_topk_oracle(
        "embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5
    ),
)
def sim_topk_ivfpq_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance (VERDICT r5 next-6): the persisted
    IVF-PQ index is initialized on HALF the corpus (even vec_ids), the
    other half arrives later as an UPSERT — coded against the frozen
    geometry, written as a second list-partitioned delta generation,
    made visible by one `genstore` commit whose manifest carries the
    first delta by reference. The probe reads the manifest's
    delta union with the same partition-pruned `list_id IN (...)` filter, and
    the oracle is the FULL-corpus IVF-PQ result — probe-after-upsert
    must equal a from-scratch rebuild, which is the upsert correctness
    contract."""
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    queries = emb.filter(F.col("vec_id") < 10)
    path = sim.stage_ivfpq_index_upserted(
        spark, base, delta, sf_dir, "embedding", "vec_id", dim=EMBED_DIM
    )
    lists = sim.probe_lists_for(queries, "embedding", dim=EMBED_DIM)
    index = sim.read_ivfpq_index(spark, path)
    return sim.ivfpq_topk_from_index(
        index, queries, "embedding", "vec_id", dim=EMBED_DIM, k=5,
        prune_lists=lists,
    )


@query(
    "sim_topk_stream_batch_upsert",
    oracle=ivfpq_topk_oracle(
        "embeddings", "vec_id < 10", "embedding", "vec_id", dim=EMBED_DIM, k=5
    ),
)
def sim_topk_stream_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ingest racing a BATCH upsert on ONE index (VERDICT r12
    next-5), end-to-end: the index is initialized on a third of the
    corpus, a streaming foreachBatch
    (`streaming/ann_index.py:index_stream`) upserts the second third,
    and WHILE that upsert sits between its delta write and its commit
    (the index module's `_before_flip_hook`), a batch upsert of the
    last third starts on another thread. It queues on the index's
    maintenance lock and commits on top of the stream's delta once the
    stream's commit releases it. The probe over the three-delta union
    must equal the FULL-corpus IVF-PQ oracle — which is only possible
    if no delta was lost."""
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from presto_rakam_kafka_spark import genstore
    from presto_rakam_kafka_spark.operators import similarity as sim
    from presto_rakam_kafka_spark.streaming.ann_index import index_stream

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(
        tempfile.gettempdir(), f"ann_stream_batch_{tag}_p{os.getpid()}x"
    )
    gen = genstore.read_pointer(path)[0]
    if gen is None or len(genstore.read_manifest(path, gen)["deltas"]) < 3:
        sim.init_ivfpq_index(
            spark, emb.filter(F.col("vec_id") % 3 == 0), path,
            "embedding", "vec_id", dim=EMBED_DIM,
        )
        src = os.path.join(path + ".src")
        emb.filter(F.col("vec_id") % 3 == 1).write.mode("overwrite").parquet(src)
        batch = []
        with ThreadPoolExecutor(max_workers=1) as pool:

            def batch_upsert_in_window():
                # fire ONCE, from inside the stream upsert's commit
                # window; clear first — the batch upsert passes through
                # the same hook point. A same-thread upsert here would
                # wait out the lock bound behind its own caller.
                sim._before_flip_hook = None
                batch.append(pool.submit(
                    sim.upsert_ivfpq_index,
                    spark, emb.filter(F.col("vec_id") % 3 == 2), path,
                    "embedding", "vec_id", dim=EMBED_DIM,
                ))

            sim._before_flip_hook = batch_upsert_in_window
            try:
                q = (
                    index_stream(
                        spark.readStream.schema(emb.schema).parquet(src),
                        path, "embedding", "vec_id", dim=EMBED_DIM,
                        checkpoint=path + ".ckpt",
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            finally:
                sim._before_flip_hook = None
        for f in batch:
            f.result()
    lists = sim.probe_lists_for(queries, "embedding", dim=EMBED_DIM)
    index = sim.read_ivfpq_index(spark, path)
    return sim.ivfpq_topk_from_index(
        index, queries, "embedding", "vec_id", dim=EMBED_DIM, k=5,
        prune_lists=lists,
    )


from presto_rakam_kafka_spark.operators.dedup import duplicated_span_stats_oracle


@query(
    "dedup_substring_spans",
    oracle=duplicated_span_stats_oracle("documents", "text", "doc_id", n=10),
)
def dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: per-doc fraction of word 10-gram
    positions whose span recurs in another document — the signal
    doc-level dedup can't see (shared boilerplate across otherwise
    distinct pages). One n-gram-keyed shuffle + one doc regroup."""
    from presto_rakam_kafka_spark.operators.dedup import duplicated_span_stats

    return duplicated_span_stats(_docs(spark, sf_dir), "text", "doc_id", n=10)


def _trim_oracle() -> str:
    from presto_rakam_kafka_spark.operators.dedup import (
        boilerplate_augment_duckdb,
        duplicated_span_trim_oracle,
    )

    aug = boilerplate_augment_duckdb("text", "doc_id")
    return duplicated_span_trim_oracle(
        f"(SELECT doc_id, {aug} AS text FROM documents) aug",
        "text",
        "doc_id",
        n=10,
        drop_threshold=0.9,
    )


@query("dedup_substring_trim", oracle=_trim_oracle())
def dedup_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span TRIMMING, not just flagging (VERDICT r5 next-5) — the Lee
    et al. treatment step: drop near-total copies (dup fraction ≥ 0.9),
    cut leading/trailing duplicated-span runs (shared boilerplate),
    keep the rest. The fixture corpus's duplicated spans are whole-doc
    copies, so both engines first synthesize the same deterministic
    boilerplate-bearing projection (headers on doc_id%7=3, footers on
    doc_id%11=5 — the `pii_redact` precedent) and the trim path runs
    against real shared spans: 353 keep / 100 trim / 47 drop at
    sf0.01. Same one n-gram shuffle + one doc regroup as the stats
    form; the trim itself is a pure projection."""
    from presto_rakam_kafka_spark.operators.dedup import (
        boilerplate_augment_spark,
        duplicated_span_trim,
    )

    aug = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(boilerplate_augment_spark("text", "doc_id")).alias("text"),
    )
    return duplicated_span_trim(aug, "text", "doc_id", n=10, drop_threshold=0.9)


def _hybrid_rrf3_oracle() -> str:
    from presto_rakam_kafka_spark.functions.hashing import (
        jaccard_duckdb,
        shingles_duckdb,
        tokens_duckdb,
    )
    from presto_rakam_kafka_spark.operators.dedup import cosine_expr_duckdb
    from presto_rakam_kafka_spark.operators.text import BM25_B, BM25_K1

    jac = jaccard_duckdb("q.sh", "c.sh")
    cos = cosine_expr_duckdb("qe.embedding", "ce.embedding", EMBED_DIM)
    toks = tokens_duckdb("text")
    k1, b = BM25_K1, BM25_B
    score = f"""
               ln(1.0 + (CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5)
                        / (CAST(dfreq.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * ({k1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {k1} * (1.0 - {b} + {b} * CAST(dl.dl AS DOUBLE) / s.avgdl))"""
    return f"""
    WITH sh AS (
      SELECT doc_id, {shingles_duckdb('text', 3)} AS sh FROM documents),
    lex AS (
      SELECT c.doc_id,
             row_number() OVER (ORDER BY round({jac}, 6) DESC, c.doc_id) AS r_lex
      FROM sh c, (SELECT sh FROM sh WHERE doc_id = 0) q
      WHERE c.doc_id != 0
      QUALIFY r_lex <= {RRF_CANDIDATES}),
    vec AS (
      SELECT ce.vec_id AS doc_id,
             row_number() OVER (ORDER BY round({cos}, 6) DESC, ce.vec_id) AS r_vec
      FROM embeddings ce, (SELECT embedding FROM embeddings WHERE vec_id = 0) qe
      WHERE ce.vec_id != 0
      QUALIFY r_vec <= {RRF_CANDIDATES}),
    tk AS (SELECT doc_id, unnest({toks}) AS t FROM documents),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY doc_id, t),
    dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
    s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    q25 AS (SELECT DISTINCT unnest({toks}) AS t FROM documents WHERE doc_id = 0),
    bm AS (
      SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r_bm
      FROM (
        SELECT tf.doc_id, round(sum({score}), 6) AS bm25
        FROM tf JOIN q25 ON tf.t = q25.t
        JOIN dfreq ON tf.t = dfreq.t
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN s
        WHERE tf.doc_id != 0
        GROUP BY tf.doc_id, s.n_docs, s.avgdl)
      QUALIFY r_bm <= {RRF_CANDIDATES})
    SELECT doc_id, r_lex, r_vec, r_bm, rrf, rank FROM (
      SELECT l.doc_id, l.r_lex, v.r_vec, bm.r_bm,
             round(1.0 / (60 + l.r_lex) + 1.0 / (60 + v.r_vec)
                   + 1.0 / (60 + bm.r_bm), 8) AS rrf,
             row_number() OVER (
               ORDER BY round(1.0 / (60 + l.r_lex) + 1.0 / (60 + v.r_vec)
                              + 1.0 / (60 + bm.r_bm), 8) DESC, l.doc_id) AS rank
      FROM lex l JOIN vec v ON l.doc_id = v.doc_id
      JOIN bm ON l.doc_id = bm.doc_id)
    WHERE rank <= 10
    """


@query("search_hybrid_rrf3", oracle=_hybrid_rrf3_oracle())
def search_hybrid_rrf3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-leg hybrid retrieval: shingle-Jaccard, embedding cosine,
    AND BM25 fused by reciprocal rank — the production stack (sparse
    lexical + saturating BM25 + dense vector) with each leg a bounded
    top-N candidate list (TakeOrderedAndProject); fusion sees only
    docs present in all three lists."""
    from pyspark.sql import Window

    from presto_rakam_kafka_spark.functions.hashing import jaccard_spark, shingles_spark
    from presto_rakam_kafka_spark.operators.dedup import cosine_expr
    from presto_rakam_kafka_spark.operators.text import bm25_topk

    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(shingles_spark("text", 3)).alias("sh")
    )
    qdoc = F.broadcast(docs.filter("doc_id = 0").select(F.col("sh").alias("q_sh")))
    lex = (
        docs.filter("doc_id != 0")
        .crossJoin(qdoc)
        .select("doc_id", F.expr(f"round({jaccard_spark('q_sh', 'sh')}, 6)").alias("_j"))
        .orderBy(F.desc("_j"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
        .withColumn(
            "r_lex", F.row_number().over(Window.orderBy(F.desc("_j"), F.asc("doc_id")))
        )
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvec = F.broadcast(emb.filter("vec_id = 0").select(F.col("embedding").alias("q_emb")))
    vec = (
        emb.filter("vec_id != 0")
        .crossJoin(qvec)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(f"round({cosine_expr('q_emb', 'embedding')}, 6)").alias("_c"),
        )
        .orderBy(F.desc("_c"), F.asc("doc_id"))
        .limit(RRF_CANDIDATES)
        .withColumn(
            "r_vec", F.row_number().over(Window.orderBy(F.desc("_c"), F.asc("doc_id")))
        )
    )
    bm = bm25_topk(
        _docs(spark, sf_dir), "text", "doc_id", query_id=0, k=RRF_CANDIDATES
    ).select("doc_id", F.col("rank").alias("r_bm"))
    fused = (
        lex.select("doc_id", "r_lex")
        .join(vec.select("doc_id", "r_vec"), "doc_id")
        .join(bm, "doc_id")
        .select(
            "doc_id",
            "r_lex",
            "r_vec",
            "r_bm",
            F.expr(
                "cast(round(1.0 / (60 + r_lex) + 1.0 / (60 + r_vec)"
                " + 1.0 / (60 + r_bm), 8) as double)"
            ).alias("rrf"),
        )
    )
    w = Window.orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        fused.orderBy(F.desc("rrf"), F.asc("doc_id"))
        .limit(10)
        .withColumn("rank", F.row_number().over(w))
    )


def _hybrid_rrf3_multi_oracle(query_ids: tuple[int, ...]) -> str:
    from presto_rakam_kafka_spark.functions.hashing import (
        jaccard_duckdb,
        shingles_duckdb,
        tokens_duckdb,
    )
    from presto_rakam_kafka_spark.operators.dedup import cosine_expr_duckdb
    from presto_rakam_kafka_spark.operators.text import BM25_B, BM25_K1

    ids = ", ".join(str(int(q)) for q in query_ids)
    jac = jaccard_duckdb("q.sh", "c.sh")
    cos = cosine_expr_duckdb("qe.embedding", "ce.embedding", EMBED_DIM)
    toks = tokens_duckdb("text")
    k1, b = BM25_K1, BM25_B
    score = f"""
               ln(1.0 + (CAST(s.n_docs - dfreq.df AS DOUBLE) + 0.5)
                        / (CAST(dfreq.df AS DOUBLE) + 0.5))
               * (CAST(tf.tf AS DOUBLE) * ({k1} + 1.0))
               / (CAST(tf.tf AS DOUBLE)
                  + {k1} * (1.0 - {b} + {b} * CAST(dl.dl AS DOUBLE) / s.avgdl))"""
    return f"""
    WITH sh AS (
      SELECT doc_id, {shingles_duckdb('text', 3)} AS sh FROM documents),
    lex AS (
      SELECT q.doc_id AS query_id, c.doc_id,
             row_number() OVER (PARTITION BY q.doc_id
               ORDER BY round({jac}, 6) DESC, c.doc_id) AS r_lex
      FROM sh c, (SELECT doc_id, sh FROM sh WHERE doc_id IN ({ids})) q
      WHERE c.doc_id != q.doc_id
      QUALIFY r_lex <= {RRF_CANDIDATES}),
    vec AS (
      SELECT qe.vec_id AS query_id, ce.vec_id AS doc_id,
             row_number() OVER (PARTITION BY qe.vec_id
               ORDER BY round({cos}, 6) DESC, ce.vec_id) AS r_vec
      FROM embeddings ce,
           (SELECT vec_id, embedding FROM embeddings WHERE vec_id IN ({ids})) qe
      WHERE ce.vec_id != qe.vec_id
      QUALIFY r_vec <= {RRF_CANDIDATES}),
    tk AS (SELECT doc_id, unnest({toks}) AS t FROM documents),
    tf AS (SELECT doc_id, t, count(*) AS tf FROM tk GROUP BY doc_id, t),
    dl AS (SELECT doc_id, len({toks}) AS dl FROM documents),
    s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    dfreq AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
    qterms AS (SELECT DISTINCT doc_id AS query_id, unnest({toks}) AS t
               FROM documents WHERE doc_id IN ({ids})),
    bm AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
               ORDER BY bm25 DESC, doc_id) AS r_bm
      FROM (
        SELECT qterms.query_id, tf.doc_id, round(sum({score}), 6) AS bm25
        FROM tf JOIN qterms ON tf.t = qterms.t
        JOIN dfreq ON tf.t = dfreq.t
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN s
        WHERE tf.doc_id != qterms.query_id
        GROUP BY qterms.query_id, tf.doc_id, s.n_docs, s.avgdl)
      QUALIFY r_bm <= {RRF_CANDIDATES})
    SELECT query_id, doc_id, r_lex, r_vec, r_bm, rrf, rank FROM (
      SELECT l.query_id, l.doc_id, l.r_lex, v.r_vec, bm.r_bm,
             round(1.0 / (60 + l.r_lex) + 1.0 / (60 + v.r_vec)
                   + 1.0 / (60 + bm.r_bm), 8) AS rrf,
             row_number() OVER (PARTITION BY l.query_id
               ORDER BY round(1.0 / (60 + l.r_lex) + 1.0 / (60 + v.r_vec)
                              + 1.0 / (60 + bm.r_bm), 8) DESC, l.doc_id) AS rank
      FROM lex l
      JOIN vec v ON l.query_id = v.query_id AND l.doc_id = v.doc_id
      JOIN bm ON l.query_id = bm.query_id AND l.doc_id = bm.doc_id)
    WHERE rank <= 10
    """


@query(
    "search_hybrid_rrf3_multi",
    oracle=_hybrid_rrf3_multi_oracle((0, 1, 2, 3)),
)
def search_hybrid_rrf3_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-leg hybrid retrieval for a query TABLE (docs 0–3) — the
    batch-serving shape of `search_hybrid_rrf3`: every leg scores the
    whole query batch against ONE corpus scan (queries broadcast), each
    leg's candidates are a per-query rank ≤ N (partitionBy(query_id)
    windows — one bounded shuffle per leg, no global sort), and RRF
    fuses on (query_id, doc). At production scale each leg is served by
    its index (LSH / IVF-PQ / postings) with the same per-query rank
    discipline — this is the exact-scoring oracle-checkable form."""
    from pyspark.sql import Window

    from presto_rakam_kafka_spark.functions.hashing import (
        jaccard_spark,
        shingles_spark,
    )
    from presto_rakam_kafka_spark.operators.dedup import cosine_expr
    from presto_rakam_kafka_spark.operators.text import bm25_topk_multi

    qids = [0, 1, 2, 3]
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(shingles_spark("text", 3)).alias("sh")
    )
    qdocs = F.broadcast(
        docs.filter(F.col("doc_id").isin(qids)).select(
            F.col("doc_id").alias("query_id"), F.col("sh").alias("q_sh")
        )
    )
    wl = Window.partitionBy("query_id").orderBy(F.desc("_j"), F.asc("doc_id"))
    lex = (
        docs.crossJoin(qdocs)
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            "doc_id",
            F.expr(f"round({jaccard_spark('q_sh', 'sh')}, 6)").alias("_j"),
        )
        .withColumn("r_lex", F.row_number().over(wl))
        .filter(F.col("r_lex") <= RRF_CANDIDATES)
    )
    emb = _t(spark, sf_dir, "embeddings")
    qvecs = F.broadcast(
        emb.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
        )
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("_c"), F.asc("doc_id"))
    vec = (
        emb.crossJoin(qvecs)
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            F.expr(f"round({cosine_expr('q_emb', 'embedding')}, 6)").alias("_c"),
        )
        .withColumn("r_vec", F.row_number().over(wv))
        .filter(F.col("r_vec") <= RRF_CANDIDATES)
    )
    bm = bm25_topk_multi(
        _docs(spark, sf_dir), "text", "doc_id", tuple(qids), k=RRF_CANDIDATES
    ).select("query_id", "doc_id", F.col("rank").alias("r_bm"))
    fused = (
        lex.select("query_id", "doc_id", "r_lex")
        .join(vec.select("query_id", "doc_id", "r_vec"), ["query_id", "doc_id"])
        .join(bm, ["query_id", "doc_id"])
        .select(
            "query_id",
            "doc_id",
            "r_lex",
            "r_vec",
            "r_bm",
            F.expr(
                "cast(round(1.0 / (60 + r_lex) + 1.0 / (60 + r_vec)"
                " + 1.0 / (60 + r_bm), 8) as double)"
            ).alias("rrf"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return fused.withColumn("rank", F.row_number().over(wf)).filter(
        F.col("rank") <= 10
    )


from presto_rakam_kafka_spark.operators.text import bpe_oracle_sql


@query(
    "bpe_train_merges",
    oracle=bpe_oracle_sql("documents", "text", "doc_id", 10, "merges"),
)
def bpe_train_merges_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training — learn the first 10 merges
    from the corpus (Sennrich-style, frequency-weighted word types,
    lexicographic tie-break). Corpus touched once (the word-count
    shuffle); each merge iteration runs on the vocabulary table with a
    codegen'd fold rewrite; only the per-step argmax pair reaches the
    driver. Oracle: an unrolled per-step DuckDB CTE chain where the
    merge fold is string replace() over unit-encoded symbols (see
    `bpe_oracle_sql`); additionally pinned against a pure-Python
    reference trainer in tests/test_llm_operators.py."""
    from presto_rakam_kafka_spark.operators.text import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), "text", "doc_id", num_merges=10)


@query(
    "text_bpe_token_counts",
    oracle=bpe_oracle_sql("documents", "text", "doc_id", 10, "counts"),
)
def text_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token counts under the corpus's own learned BPE vocab
    (10 merges) — the apply half of `bpe_train_merges`: final (word →
    symbol count) vocabulary broadcast onto the exploded corpus, one
    per-doc sum. Oracle: the same unrolled CTE chain ending in a
    vocab join; also Python-reference-pinned in tests."""
    from presto_rakam_kafka_spark.operators.text import bpe_token_counts

    return bpe_token_counts(_docs(spark, sf_dir), "text", "doc_id", num_merges=10)


@query(
    "join_fuzzy_blocked",
    oracle="""
    WITH p AS (SELECT p_partkey, p_name, string_split(p_name, ' ')[1] AS blk
               FROM part)
    SELECT blk, count(*) AS n_pairs,
           CAST(sum(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT) AS exact_pairs,
           CAST(sum(CASE WHEN d BETWEEN 1 AND 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS near_pairs
    FROM (SELECT a.blk, levenshtein(a.p_name, b.p_name) AS d
          FROM p a JOIN p b ON a.blk = b.blk AND a.p_partkey < b.p_partkey
          WHERE levenshtein(a.p_name, b.p_name) <= 3)
    GROUP BY blk
    """,
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join — the entity-resolution shape: candidate
    pairs are generated ONLY within a cheap blocking key (first name
    token), then verified with exact edit distance (levenshtein ≤ 3,
    identical integer algorithm in both engines). Per-block pair
    summary returned. At 100 TB the block key is the one shuffle and
    block size bounds the quadratic verify — the same
    block-then-verify discipline as MinHash-LSH banding, on edit
    distance instead of Jaccard."""
    p = _t(spark, sf_dir, "part").select(
        "p_partkey", "p_name", F.expr("split(p_name, ' ')[0]").alias("blk")
    )
    a = p.select("blk", F.col("p_partkey").alias("ka"), F.col("p_name").alias("na"))
    b = p.select("blk", F.col("p_partkey").alias("kb"), F.col("p_name").alias("nb"))
    pairs = (
        a.join(b, on="blk")
        .filter(F.col("ka") < F.col("kb"))
        .select("blk", F.levenshtein("na", "nb").alias("d"))
        .filter(F.col("d") <= 3)
    )
    return pairs.groupBy("blk").agg(
        F.count("*").alias("n_pairs"),
        F.sum(F.when(F.col("d") == 0, 1).otherwise(0)).cast("long").alias("exact_pairs"),
        F.sum(F.when(F.col("d").between(1, 3), 1).otherwise(0))
        .cast("long")
        .alias("near_pairs"),
    )


@query(
    "string_funcs3",
    oracle="""
    SELECT p_partkey,
           CAST(levenshtein(p_name, p_type) AS BIGINT) AS name_type_dist,
           translate(p_name, 'aeiou', 'AEIOU') AS name_caps_vowels,
           left(p_name, 4) AS name_left,
           right(p_name, 3) AS name_right,
           contains(p_name, 'a') AS has_a,
           ends_with(p_type, 'TIN') AS is_tin
    FROM part
    """,
)
def string_funcs3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third string batch: edit distance, translate, left/right,
    contains, ends_with (Presto 0.123 string surface — levenshtein is
    the verify primitive of `join_fuzzy_blocked`)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein("p_name", "p_type").cast("long").alias("name_type_dist"),
        F.translate("p_name", "aeiou", "AEIOU").alias("name_caps_vowels"),
        F.expr("left(p_name, 4)").alias("name_left"),
        F.expr("right(p_name, 3)").alias("name_right"),
        F.expr("contains(p_name, 'a')").alias("has_a"),
        F.expr("endswith(p_type, 'TIN')").alias("is_tin"),
    )


@query(
    "dataset_diff",
    oracle=f"""
    SELECT status, count(*) AS n_docs,
           min(doc_id) AS first_id, max(doc_id) AS last_id
    FROM ({datasets.diff_datasets_oracle(
        "SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0",
        "SELECT doc_id, CASE WHEN doc_id % 5 = 0 THEN text || ' [v2]' "
        "ELSE text END AS text FROM documents WHERE doc_id % 11 != 3",
        "doc_id", "text",
    )})
    GROUP BY status
    """,
)
def dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version audit (round 7): row-level diff of two corpus
    snapshots by content digest (added/removed/changed/unchanged via
    ONE full-outer join of (id, md5) projections — ~48 bytes/row into
    the join no matter the document size), summarized per status. The
    snapshots are deterministic slices of the fixture: v2 drops some
    docs, adds others back, and edits every fifth text."""
    docs = _docs(spark, sf_dir)
    v1 = docs.filter(F.col("doc_id") % 7 != 0)
    v2 = docs.filter(F.col("doc_id") % 11 != 3).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [v2]"))
        ).otherwise(F.col("text")).alias("text"),
    )
    return (
        datasets.diff_datasets(v1, v2, "doc_id", "text")
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_id"),
            F.max("doc_id").alias("last_id"),
        )
    )


from presto_rakam_kafka_spark.operators.text import phrase_search, phrase_search_oracle


@query(
    "search_phrase",
    oracle=phrase_search_oracle("documents", "text", "doc_id", ["table", "hash"]),
)
def search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-phrase retrieval (round 7): positional-postings joins —
    corpus explodes once into (doc, pos, term) pre-filtered to the
    phrase vocabulary, later terms join on (doc, pos+i). The query
    class bag-of-words BM25 can't answer; complements the retrieval
    family (`search_bm25*`, `search_hybrid_rrf*`)."""
    return phrase_search(_docs(spark, sf_dir), "text", "doc_id", ["table", "hash"])


from presto_rakam_kafka_spark.operators.text import bm25_from_parts, bm25_topk_oracle
from presto_rakam_kafka_spark.functions.hashing import tokens_spark as _tok_spark


@query(
    "stream_bm25",
    oracle=bm25_topk_oracle("documents", "text", "doc_id", query_id=0, k=10),
)
def stream_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous lexical-index maintenance (round 7): the BM25 index
    parts — postings (doc, term, tf) and doc lengths — are plain
    ASSOCIATIVE streaming groupBys (new documents only add rows), so
    the drained streaming state IS the postings table; document
    frequency and corpus scalars derive from the parts at query time
    in the same finish as batch `search_bm25` (`bm25_from_parts`).
    Stream equals batch bit-for-bit (identical oracle). At 100 TB the
    streaming state is the index a search service stores anyway —
    vocabulary × docs-containing-term rows, never raw text."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.queries import _docs_stream, _drain

    st = _docs_stream(spark, sf_dir)
    tf = _drain(
        st.select(
            F.col("doc_id"), F.explode(F.expr(_tok_spark("text"))).alias("t")
        ).groupBy("doc_id", "t").agg(F.count("*").alias("tf")),
        "bm25_tf",
        "complete",
    )
    # document frequency is ALSO an associative rollup; drained as its
    # own streaming aggregate (the stream_retention two-part pattern —
    # and it sidesteps the memory-view self-join that deriving dfreq
    # from the drained tf view would create)
    dfreq = _drain(
        _docs_stream(spark, sf_dir)
        .select(
            F.col("doc_id"), F.explode(F.expr(_tok_spark("text"))).alias("t")
        )
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("_tf")),
        "bm25_df",
        "complete",
    ).groupBy("t").agg(F.count("*").alias("df"))
    dl = _drain(
        _docs_stream(spark, sf_dir)
        .select("doc_id", F.expr(f"size({_tok_spark('text')})").alias("dl"))
        .groupBy("doc_id")
        .agg(F.max("dl").alias("dl")),
        "bm25_dl",
        "complete",
    )
    docs = read_table(spark, sf_dir, "documents")
    qterms = (
        docs.filter(F.col("doc_id") == 0)
        .select(F.explode(F.expr(_tok_spark("text"))).alias("t"))
        .distinct()
    )
    return bm25_from_parts(tf, dl, qterms, "doc_id", query_id=0, k=10, dfreq=dfreq)


from presto_rakam_kafka_spark.operators.text import (
    phrase_search_multi,
    phrase_search_multi_oracle,
)

_PHRASES = {0: ["table", "hash"], 1: ["customer", "join"], 2: ["big", "order", "scan"]}


@query(
    "search_phrase_multi",
    oracle=phrase_search_multi_oracle("documents", "text", "doc_id", _PHRASES),
)
def search_phrase_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch phrase retrieval (round 7): one postings scan serves a
    phrase TABLE — each (term, offset) pair votes for its implied
    anchor; an anchor with all n votes is a hit. One join + one
    aggregate regardless of phrase length or query count (the chain
    form pays n−1 joins per phrase)."""
    return phrase_search_multi(_docs(spark, sf_dir), "text", "doc_id", _PHRASES)


from presto_rakam_kafka_spark.operators.text import token_entropy, token_entropy_oracle


@query(
    "text_entropy",
    oracle=token_entropy_oracle("documents", "text", "doc_id"),
)
def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unigram entropy (round 7) — the gibberish/boilerplate
    quality signal next to the Gopher ratios. Explode + two doc-keyed
    aggregates sharing one shuffle; never the O(len²) per-row
    expression form."""
    return token_entropy(_docs(spark, sf_dir), "text", "doc_id")


@query(
    "pairs_contrastive_mining",
    oracle=__import__(
        "presto_rakam_kafka_spark.operators.similarity",
        fromlist=["similarity"],
    ).mine_contrastive_pairs_oracle(
        "embeddings", "vec_id % 40 = 1", "embedding", "vec_id", dim=64
    ),
)
def pairs_contrastive_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training-pair mining (round 9): per anchor vector,
    ONE hard negative (most-similar non-near-duplicate — cosine below
    0.95, so paraphrases never get mislabeled negative) plus two
    deterministic-random negatives drawn by the md5 of the id pair (a
    seeded draw DuckDB replays exactly; a real RNG would never
    hash-match). One broadcast-anchors corpus scan serves both legs;
    the windows rank within anchors only. At 100 TB the hard leg swaps
    brute force for the IVF-PQ index probe with the same contract
    (operators/similarity.py:mine_contrastive_pairs)."""
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 40 == 1)
    return sim.mine_contrastive_pairs(emb, anchors, "embedding", "vec_id")


@query(
    "pairs_contrastive_indexed",
    oracle=__import__(
        "presto_rakam_kafka_spark.operators.similarity",
        fromlist=["similarity"],
    ).mine_contrastive_pairs_indexed_oracle(
        "embeddings", "vec_id % 40 = 1", "embedding", "vec_id", dim=EMBED_DIM
    ),
)
def pairs_contrastive_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The miner's 100 TB form (round 10, VERDICT r9 next-1): the hard
    leg routes through the PERSISTED IVF-PQ index instead of the
    brute-force corpus crossJoin — probe-list union computed
    driver-side, partition-pruned ADC scan keeps overfetch·refine
    candidates per anchor, exact cosine re-ranks them, and the
    dup-threshold filter picks the top-1 non-near-duplicate. Hard-leg
    cost is ∝ probed lists (receipt: SCALE_NOTES §contrastive-indexed),
    never |corpus|×|anchors|; the random leg's corpus pass carries only
    ids + the md5 draw, with cosine computed on the winner set alone.
    The oracle replays the SAME deterministic probe value-for-value —
    an exact hash gate, not just a recall bound (the
    `sim_topk_ivfpq_refined` relationship to `sim_topk_bruteforce`)."""
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 40 == 1)
    path = sim.stage_ivfpq_index(
        spark, emb, sf_dir, "embedding", "vec_id", dim=EMBED_DIM,
        store_vectors=True,
    )
    return sim.mine_contrastive_pairs(
        emb, anchors, "embedding", "vec_id",
        spark=spark, index_path=path, dim=EMBED_DIM,
    )


@query(
    "stream_pairs_contrastive",
    oracle=__import__(
        "presto_rakam_kafka_spark.operators.similarity",
        fromlist=["similarity"],
    ).mine_contrastive_pairs_indexed_oracle(
        "embeddings", "vec_id % 40 = 1", "embedding", "vec_id", dim=EMBED_DIM
    ),
)
def stream_pairs_contrastive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTINUOUS pair mining (round 10) — the training-data-refresh
    loop as a stream: anchors arrive in micro-batches (the embeddings
    table replayed in vec_id order), and each trigger mines ONLY the
    batch's new anchors against the persisted IVF-PQ index — per-batch
    cost ∝ batch anchors × probed lists, never corpus × all anchors —
    appending pairs to an epoch-keyed store (idempotent overwrite per
    epoch, the exactly-once discipline everywhere else). Batches
    partition the anchor set, the index is static, and mining is
    per-anchor independent, so the union over epochs equals the batch
    indexed miner row-for-row — the oracle IS
    `pairs_contrastive_indexed`'s, unchanged. State in the streaming
    engine: none (the pair store and index are the state, on disk)."""
    from presto_rakam_kafka_spark.fixtures import read_table, staging_mkdtemp
    from presto_rakam_kafka_spark.operators import similarity as sim
    from presto_rakam_kafka_spark.streaming import runner

    emb = _t(spark, sf_dir, "embeddings")
    path = sim.stage_ivfpq_index(
        spark, emb, sf_dir, "embedding", "vec_id", dim=EMBED_DIM,
        store_vectors=True,
    )
    d = runner.stage_chunked_events(
        spark, sf_dir, "embeddings", num_chunks=4, order_col="vec_id"
    )
    schema = read_table(spark, sf_dir, "embeddings").schema
    anchors_stream = runner.read_file_stream(spark, d, schema).filter(
        F.col("vec_id") % 40 == 1
    )
    out = staging_mkdtemp("stream_pairs_")

    def on_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        pairs = sim.mine_contrastive_pairs(
            emb, batch, "embedding", "vec_id",
            spark=spark, index_path=path, dim=EMBED_DIM,
        )
        pairs.write.mode("overwrite").parquet(
            os.path.join(out, f"epoch={int(epoch_id)}")
        )

    q = (
        anchors_stream.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", staging_mkdtemp("ckpt_stream_pairs_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(os.path.join(out, "epoch=*"))


# ---------------------------------------------------------------------
# Embedding post-processing (round 10): stats, whitening, covariance,
# matryoshka truncation — operators/embeddings.py
# ---------------------------------------------------------------------


@query(
    "embeddings_dim_stats",
    oracle="""
    SELECT dim, n, round(mu, 6) AS mu, round(v, 6) AS v
    FROM (
      SELECT dim, count(*) AS n, avg(x) AS mu, var_samp(x) AS v
      FROM (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding) AS x
            FROM embeddings)
      GROUP BY dim)
    """,
)
def embeddings_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension feature statistics — the fit step before any
    whitening/scaling of an embedding column. posexplode feeds a
    PARTIAL aggregate: each map task combines to ≤dim rows before the
    exchange, so the shuffle is (tasks × dim) rows however large the
    table; all JVM codegen (no UDF)."""
    from presto_rakam_kafka_spark.operators import embeddings as emb_ops

    emb = _t(spark, sf_dir, "embeddings")
    stats = emb_ops.dim_stats(emb)
    return stats.select(
        "dim",
        "n",
        F.round("mu", 6).alias("mu"),
        F.round("var", 6).alias("v"),
    )


@query(
    "embeddings_whiten_topvar",
    oracle="""
    WITH stats AS (
      SELECT dim, avg(x) AS mu, var_samp(x) AS v
      FROM (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
                   unnest(embedding) AS x
            FROM embeddings)
      GROUP BY dim),
    top AS (SELECT dim, mu, v FROM stats ORDER BY v DESC, dim LIMIT 8)
    SELECT e.vec_id, t.dim,
           round((e.embedding[t.dim + 1] - t.mu) / sqrt(t.v), 5) AS z
    FROM embeddings e CROSS JOIN top t
    WHERE e.vec_id < 50
    """,
)
def embeddings_whiten_topvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagonal whitening on the 8 highest-variance dims (deterministic
    tie-break by dim index): the fit is a dim-sized driver collect (a
    bounded fit, never data-sized), the transform is literal-folded
    getItem arithmetic in whole-stage codegen — no UDF in the per-row
    path. Long-form output keeps the oracle hash array-free."""
    from presto_rakam_kafka_spark.operators import embeddings as emb_ops

    emb = _t(spark, sf_dir, "embeddings")
    # fit on the FULL table, transform the probe rows — refitting on
    # the filtered slice would be train/serve skew
    z = emb_ops.whiten_topvar(
        emb.filter(F.col("vec_id") < 50), k=8, fit_df=emb
    )
    return z.select("vec_id", "dim", F.round("z", 5).alias("z"))


@query(
    "embeddings_covariance_probe",
    oracle="""
    WITH flat AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS x
      FROM embeddings)
    SELECT i.dim AS di, j.dim AS dj, round(covar_samp(i.x, j.x), 6) AS c
    FROM flat i JOIN flat j USING (vec_id)
    WHERE i.dim < 8 AND j.dim < 8
    GROUP BY i.dim, j.dim
    """,
)
def embeddings_covariance_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed covariance pass that PCA trains on, gated on its
    top-left 8×8 block: per-Arrow-batch numpy Gram partials (X^T X, ΣX,
    n — one GEMM per batch, no shuffle), folded on the driver into
    cov = (S − n·μμᵀ)/(n−1). The oracle replays it as pairwise
    covar_samp over the exploded table — quadratic in dim and only
    viable at fixture scale, which is exactly why the engine's pass
    isn't shaped like that."""
    from presto_rakam_kafka_spark.operators import embeddings as emb_ops

    emb = _t(spark, sf_dir, "embeddings")
    cov, _mu, _n = emb_ops.covariance_matrix(emb, dim=EMBED_DIM)
    rows = [
        (di, dj, round(float(cov[di, dj]), 6))
        for di in range(8)
        for dj in range(8)
    ]
    return spark.createDataFrame(rows, "di INT, dj INT, c DOUBLE")


@query(
    "embeddings_matryoshka16",
    oracle="""
    WITH cut AS (
      -- x is FLOAT; square in DOUBLE like the engine does, or the
      -- norm drifts at the 6th decimal
      SELECT vec_id, embedding[1:16] AS p,
             sqrt(list_sum(list_transform(embedding[1:16],
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings WHERE vec_id < 40)
    SELECT vec_id, generate_subscripts(p, 1) - 1 AS dim,
           round(CAST(unnest(p) AS DOUBLE) / nrm, 6) AS val
    FROM cut WHERE nrm > 0
    """,
)
def embeddings_matryoshka16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation: the first 16 dims, L2-renormalized — a
    trained prefix IS a valid lower-dim embedding after renorm (the
    MRL serving trick; cheap ANN tiers use the prefix, full-dim
    refines). Pure JVM slice → aggregate(x²) → transform divide,
    shuffle-free; long-form output for the hash."""
    from presto_rakam_kafka_spark.operators import embeddings as emb_ops

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    cut = emb_ops.matryoshka(emb, prefix=16)
    return (
        cut.filter(F.col("emb").isNotNull())
        .select("vec_id", F.posexplode("emb").alias("dim", "val"))
        .select("vec_id", "dim", F.round("val", 6).alias("val"))
    )
