"""Operator-level contracts for the LLM-pipeline operators (the
oracle equivalence itself is covered by test_queries_vs_oracle)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from presto_rakam_kafka_spark.fixtures import read_table
from presto_rakam_kafka_spark.operators import dedup, multimodal, similarity
from presto_rakam_kafka_spark.fixtures import staging_mkdtemp
from presto_rakam_kafka_spark import genstore


def _index_deltas(path):
    """The committed IVF-PQ index generation's ``{delta gen: files}``."""
    return genstore.read_manifest(path, genstore.read_pointer(path)[0])["deltas"]


def test_exact_dedup_idempotent(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    once = dedup.exact_dedup(docs, "text", "doc_id")
    twice = dedup.exact_dedup(once, "text", "doc_id")
    assert once.count() == twice.count()
    # survivors are distinct by content
    assert once.count() == once.select(F.md5("text")).distinct().count()


def test_minhash_lsh_no_false_positives_and_recall(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", threshold=0.8).collect()
    }
    # exact verification ⇒ zero false positives; banding at these params
    # ⇒ full recall on this corpus
    assert lsh == exact


def test_simhash_banding_finds_all_close_pairs(spark, sf_dir):
    """Pigeonhole guarantee: banded join ≡ brute force at Hamming ≤ k."""
    docs = read_table(spark, sf_dir, "documents")
    sigs = dedup.simhash_signatures(docs, "text", "doc_id")
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    brute = {
        (r.doc_a, r.doc_b)
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.expr("bit_count(sh_a ^ sh_b)") <= 3)
        .collect()
    }
    rows = dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    banded = {(r.doc_a, r.doc_b) for r in rows}
    assert banded == brute
    # round-13: the dedup is BY CONSTRUCTION (each pair emitted at its
    # first agreeing chunk only) — no duplicate rows without a distinct
    # exchange in the plan
    assert len(rows) == len(banded)
    plan = (
        dedup.simhash_pairs(docs, "text", "doc_id", max_hamming=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Deduplicate" not in plan


def test_simhash_stable_across_partitioning(spark, sf_dir):
    """Signature is a pure per-row function — repartitioning must not
    change it (guards against order-dependent accumulation bugs)."""
    docs = read_table(spark, sf_dir, "documents")
    one = dict(dedup.simhash_signatures(docs, "text", "doc_id").collect())
    many = dict(
        dedup.simhash_signatures(docs.repartition(13), "text", "doc_id").collect()
    )
    assert one == many


def test_lsh_topk_subset_of_bucket(spark, sf_dir):
    """ANN contract: every LSH neighbor shares the query's bucket and
    ranks are 1..k dense per query."""
    emb = read_table(spark, sf_dir, "embeddings")
    res = similarity.lsh_bucket_topk(
        emb, emb.filter("vec_id % 100 = 0"), "embedding", "vec_id", dim=64, k=5
    ).collect()
    by_q: dict[int, list[int]] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_ivf_fitted_centroids_deterministic_and_normalized(spark, sf_dir):
    """fit_centroids: deterministic in (corpus, seed), unit-norm rows,
    and pluggable into ivf_topk (k results per query, cosine-ranked)."""
    emb = read_table(spark, sf_dir, "embeddings")
    c1 = similarity.fit_centroids(emb, "embedding", 4, seed=7)
    c2 = similarity.fit_centroids(emb, "embedding", 4, seed=7)
    assert c1 == c2 and len(c1) == 4
    for row in c1:
        assert abs(sum(v * v for v in row) - 1.0) < 1e-3  # unit norm
    queries = emb.limit(2)
    out = similarity.ivf_topk(
        emb, queries, "embedding", "vec_id", dim=64, k=3,
        num_centroids=4, nprobe=2, centroids=c1,
    ).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["cosine"])
    for q, cosines in by_q.items():
        assert len(cosines) <= 3
        assert cosines == sorted(cosines, reverse=True)


def test_multimodal_decode_stub_raises():
    # codec-less mimes (JPEG needs libraries this container lacks)
    with pytest.raises(NotImplementedError):
        multimodal.decode_payload(b"\x00", "image/jpeg")
    # image/png has a REAL codec since round 13: garbage takes the
    # corrupt-asset ValueError lane, not the stub lane
    with pytest.raises(ValueError):
        multimodal.decode_payload(b"\x00", "image/png")


def _make_wav(freq_hz=440.0, seconds=0.25, rate=8000, channels=1, width=2):
    import io
    import math
    import struct
    import wave

    buf = io.BytesIO()
    n = int(rate * seconds)
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(width)
        w.setframerate(rate)
        amp = 0.5 * (127 if width == 1 else 32767)
        frames = bytearray()
        for i in range(n):
            s = amp * math.sin(2 * math.pi * freq_hz * i / rate)
            for _ in range(channels):
                if width == 1:
                    frames.append(int(s) + 128)
                else:
                    frames += struct.pack("<h", int(s))
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_multimodal_wav_codec_decodes_for_real():
    """audio/wav goes through a REAL stdlib decode: header features are
    exact, slice RMS of a constant-amplitude sine is ~amp/√2, and the
    result is deterministic. Malformed bytes raise (corrupt-asset path),
    and the seam still raises NotImplementedError for codec-less mimes."""
    import math

    wav = _make_wav(seconds=0.25, rate=8000)
    vec = multimodal.decode_payload(wav, "audio/wav")
    assert len(vec) == multimodal.STUB_FEATURE_DIM
    n_channels, rate, n_frames, duration = vec[:4]
    assert (n_channels, rate, n_frames) == (1.0, 8000.0, 2000.0)
    assert duration == pytest.approx(0.25)
    # RMS of a 0.5-amplitude sine ≈ 0.5/√2 per slice
    for rms in vec[4:]:
        assert rms == pytest.approx(0.5 / math.sqrt(2), rel=0.05)
    assert vec == multimodal.decode_payload(wav, "audio/x-wav")  # deterministic
    # 8-bit and stereo variants decode too (width/channel handling)
    vec8 = multimodal.decode_payload(_make_wav(width=1), "audio/wav")
    assert vec8[0] == 1.0 and vec8[4] == pytest.approx(0.5 / math.sqrt(2), rel=0.06)
    vec_st = multimodal.decode_payload(_make_wav(channels=2), "audio/wav")
    assert vec_st[0] == 2.0
    with pytest.raises(ValueError):
        multimodal.decode_payload(b"RIFFxxxxWAVE" + b"\x00" * 8, "audio/wav")


def test_multimodal_wav_assets_end_to_end(spark):
    """A mixed-mime asset table through extract_features: wav assets
    report decoded=True with the real dimensionality, text assets keep
    the stub contract — one plan, per-row codec dispatch."""
    wav = _make_wav()
    rows = [
        (1, wav, {"mime": "audio/wav", "size_bytes": len(wav)}),
        (2, b"plain words", {"mime": "text/plain", "size_bytes": 11}),
    ]
    schema = (
        "doc_id long, payload binary, "
        "meta struct<mime:string, size_bytes:long>"
    )
    assets = spark.createDataFrame(rows, schema)
    got = {r["doc_id"]: r for r in multimodal.extract_features(assets).collect()}
    assert got[1]["decoded"] and got[1]["feature_dim"] == multimodal.STUB_FEATURE_DIM
    assert not got[2]["decoded"]
    assert got[2]["feature_dim"] == multimodal.STUB_FEATURE_DIM


def test_multimodal_feature_schema_and_partitioning(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents")
    assets = multimodal.attach_payload(docs, "text", "doc_id")
    feats = multimodal.extract_features(assets.repartition(7))
    assert feats.schema == multimodal.FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all((not r.decoded) and r.feature_dim == multimodal.STUB_FEATURE_DIM for r in rows)


def test_minhash_equals_exact_on_edge_corpus(spark):
    # Edge shapes the fixture corpus lacks: exact duplicates, one-token
    # variants (jaccard just under 1), unicode tokens, minimum-length
    # docs, and a doc with every shingle repeated (array_distinct path).
    base = "the quick brown fox jumps over the lazy dog again and again"
    uni = "ünïcödé tõkens über ałl zhe läzy døg jümps qüick"
    corpus = [
        (1, base),
        (2, base),                                   # exact dup of 1
        (3, base.replace("lazy", "sleepy")),         # near dup
        (4, uni),
        (5, uni),                                    # exact unicode dup
        (6, "a b c"),                                # minimum 3 tokens
        (7, "a b c"),                                # dup of 6 (1 shingle)
        (8, "x y x y x y x y"),                      # repeated shingles
        (9, "totally different words entirely here"),
    ]
    from presto_rakam_kafka_spark.operators import dedup

    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    exact = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.8).collect()
    }
    assert lsh == exact
    assert (1, 2, 1.0) in lsh and (4, 5, 1.0) in lsh and (6, 7, 1.0) in lsh


def _pair_set(df):
    return {(r.doc_a, r.doc_b, r.jaccard) for r in df.collect()}


def test_minhash_guard_paths_equivalent(spark):
    """Every hostile-corpus guard combination produces the identical
    pair set on the edge corpus: the guards reshape the candidate
    stage, never the verified output (a lossless max_bucket_size is
    included; a lossy one is covered separately below)."""
    from presto_rakam_kafka_spark.operators import dedup

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "the quick brown fox jumps over the sleepy dog again and again"),
        (4, "a b c"),
        (5, "a b c"),
        (6, "totally different words entirely here"),
    ]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    exact = _pair_set(dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8))
    for kwargs in (
        {},
        {"pre_collapse": False},
        {"sig_prefilter": False},
        {"pre_collapse": False, "sig_prefilter": False},
        {"max_bucket_size": 16},
        {"rows_per_band": 3},  # pinned round-1 geometry
    ):
        got = _pair_set(
            dedup.minhash_lsh_pairs(df, "text", "doc_id", threshold=0.8, **kwargs)
        )
        assert got == exact, kwargs


def test_minhash_bucket_cap_is_sound_subset(spark):
    """A lossy per-bucket cap may drop pairs but must never invent
    them, and every survivor still carries its exact Jaccard."""
    from presto_rakam_kafka_spark.operators import dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = [(i, base + f" tail{i % 2}") for i in range(1, 13)]
    df = spark.createDataFrame(corpus, ["doc_id", "text"])
    exact = _pair_set(dedup.ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.8))
    capped = _pair_set(
        dedup.minhash_lsh_pairs(
            df, "text", "doc_id", threshold=0.8, pre_collapse=False, max_bucket_size=3
        )
    )
    assert capped <= exact


def test_derived_rows_per_band():
    from presto_rakam_kafka_spark.operators import dedup

    # t=0.8, b=16: r=4 (miss 2.2e-4); r=5 would miss 1.7e-3.
    assert dedup.derived_rows_per_band(0.8, 16) == 4
    # Low thresholds cannot afford steep curves at 16 bands: r=1 misses
    # 1.5e-5 but already r=2 misses 1.0e-2, 10x the documented cap.
    assert dedup.derived_rows_per_band(0.5, 16) == 1
    # Near-exact thresholds support very steep curves (capped at 8).
    assert dedup.derived_rows_per_band(0.95, 16) == 8
    # Unattainable bound -> warn and fall back to the flattest curve.
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert dedup.derived_rows_per_band(0.05, 16) == 1
    assert any("raise num_bands" in str(w.message) for w in caught)


def test_probe_lists_numpy_routing_matches_expr_codec(spark, sf_dir):
    """probe_lists_for (round-13: numpy driver-side routing) must pick
    the IDENTICAL probe-list union as the expr codec's in-Spark routing
    — left-assoc dot accumulation, (−dot, idx) order. The expr form is
    inlined here as the reference."""
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.operators.similarity import (
        _dots_spark,
        ivf_centroids,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    for pred, nprobe in [("vec_id < 10", 4), ("vec_id % 40 = 1", 8)]:
        q = emb.filter(pred)
        new = similarity.probe_lists_for(q, "embedding", dim=64, nprobe=nprobe)
        cents = ivf_centroids(similarity.NUM_CENTROIDS, 64)
        dots = _dots_spark("embedding", cents)
        dcols = [f"d{i}" for i in range(len(cents))]
        pairs_expr = ", ".join(
            f"named_struct('negd', -({c}), 'idx', {i})"
            for i, c in enumerate(dcols)
        )
        probe = (
            f"slice(transform(array_sort(array({pairs_expr})), s -> s.idx),"
            f" 1, {nprobe})"
        )
        rows = (
            q.select(*[F.expr(d).alias(c) for d, c in zip(dots, dcols)])
            .selectExpr(f"explode({probe}) AS list_id")
            .distinct()
            .collect()
        )
        old = sorted(int(r["list_id"]) for r in rows)
        assert old == new, (pred, nprobe, old, new)


def test_ivf_topk_nprobe_three(spark, sf_dir):
    """nprobe ≥ 3 regression (round-1 unionAll(*rest) raised TypeError):
    multi-probe must run and return dense per-query ranks."""
    emb = read_table(spark, sf_dir, "embeddings")
    res = similarity.ivf_topk(
        emb, emb.filter("vec_id % 200 = 0"), "embedding", "vec_id", dim=64, k=3,
        nprobe=3,
    ).collect()
    assert res
    by_q: dict[int, list[int]] = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q


def test_fingerprints_keep_zero_shingle_docs(spark):
    """Docs with <3 tokens or NULL text survive with a NULL min-shingle
    hash, matching the DuckDB oracle's list_min-over-empty-list."""
    from presto_rakam_kafka_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [(1, "only two"), (2, None), (3, "one two three four")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text_ops.fingerprints(df, "text", "doc_id").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1].min_shingle_md5 is None
    assert rows[2].min_shingle_md5 is None and rows[2].content_md5 is None
    assert rows[3].min_shingle_md5 is not None


def test_connected_components_chain_and_cliques(spark):
    """Transitive closure: a 5-node chain (A-B, B-C, C-D, D-E) is ONE
    cluster even though its ends never pair directly; two disjoint
    cliques stay separate."""
    from presto_rakam_kafka_spark.operators import clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "doc_a long, doc_b long",
    )
    comp = {
        r["node"]: r["cluster_id"]
        for r in clusters.connected_components(pairs).collect()
    }
    assert {comp[i] for i in (1, 2, 3, 4, 5)} == {1}
    assert {comp[i] for i in (10, 11, 12)} == {10}


def test_connected_components_max_iter_raises(spark):
    from presto_rakam_kafka_spark.operators import clusters

    # a 6-node chain needs ~5 propagation rounds for node 6 to learn
    # label 1; max_iter=1 must raise, not return a partial clustering
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "doc_a long, doc_b long"
    )
    import pytest as _pytest

    with _pytest.raises(clusters.ComponentsNotConverged):
        clusters.connected_components(pairs, max_iter=1)


def test_star_components_hostile_chain(spark):
    """The star algorithm's whole point: a chain longer than any sane
    label-propagation max_iter converges in O(log²) rounds. A 64-node
    chain breaks label prop at max_iter=25 (needs 63 rounds) but the
    star variant finishes well inside its default 20."""
    from presto_rakam_kafka_spark.operators import clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 64)], "doc_a long, doc_b long"
    )
    import pytest as _pytest

    with _pytest.raises(clusters.ComponentsNotConverged):
        clusters.connected_components(pairs, max_iter=25)
    comp = {
        r["node"]: r["cluster_id"]
        for r in clusters.connected_components_star(pairs).collect()
    }
    assert set(comp) == set(range(1, 65))
    assert set(comp.values()) == {1}  # one component, labeled by its min


def test_star_components_match_union_find_property(spark):
    """Property (hypothesis): on random small graphs the star algorithm
    produces exactly the union-find ground truth — same partition, every
    cluster labeled by its minimum node."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from presto_rakam_kafka_spark.operators import clusters

    def ground_truth(edges):
        parent: dict[int, int] = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=30),
                st.integers(min_value=0, max_value=30),
            ),
            min_size=1,
            max_size=25,
        )
    )
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def check(edges):
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            r["node"]: r["cluster_id"]
            for r in clusters.connected_components_star(pairs).collect()
        }
        want = ground_truth(edges)
        # self-pairs (a, a) are nodes with no distinct neighbor: the
        # star variant filters self-loops, so compare only nodes that
        # appear in a real (non-self) edge
        want = {
            n: min(lab, n) for n, lab in want.items()
        }
        nodes_with_real_edge = {a for a, b in edges if a != b} | {
            b for a, b in edges if a != b
        }
        assert {n: got[n] for n in nodes_with_real_edge} == {
            n: want[n] for n in nodes_with_real_edge
        }

    check()


def test_keep_canonical_rule(spark):
    """Keep = max quality, ties to lower id; cluster_size counts all
    members; singletons (docs in no pair) are absent."""
    from presto_rakam_kafka_spark.operators import clusters

    docs = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (9, 99)],
        "doc_id long, quality long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "doc_a long, doc_b long"
    )
    out = clusters.keep_canonical(docs, pairs, "doc_id", "quality").collect()
    assert len(out) == 1
    row = out[0]
    # quality 30 tie between docs 2 and 3 → lower id 2 wins
    assert (row["cluster_id"], row["kept_doc"], row["cluster_size"]) == (1, 2, 4)


def test_derived_rows_per_band_bound_property():
    """Property (hypothesis): for any threshold/band-count in the useful
    range, the derived r keeps the banding miss (1 - t^r)^b within
    max_pair_miss, and r is maximal (r+1 would violate the cap or the
    8-row ceiling) — the ADVICE-r2 bound, pinned for all inputs rather
    than three examples."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from presto_rakam_kafka_spark.operators import dedup

    @settings(max_examples=200, deadline=None)
    @given(
        t=st.floats(min_value=0.2, max_value=0.98),
        b=st.integers(min_value=4, max_value=64),
    )
    def check(t, b):
        miss_cap = dedup.MAX_PAIR_MISS
        r = dedup.derived_rows_per_band(t, b, miss_cap)
        assert 1 <= r <= 8
        miss = (1.0 - t**r) ** b
        # r=1 is the floor even when its miss exceeds the cap (the
        # function warns in that regime); any r>1 must satisfy the cap.
        if r > 1:
            assert miss <= miss_cap
        # maximality: the next r either breaks the cap or the ceiling
        if r < 8:
            assert (1.0 - t ** (r + 1)) ** b > miss_cap

    check()


def _make_ppm(w=8, h=6):
    """Gradient P6 image: R = x*255//(w-1), G = y*255//(h-1), B = 7."""
    px = bytearray()
    for y in range(h):
        for x in range(w):
            px += bytes([x * 255 // (w - 1), y * 255 // (h - 1), 7])
    return b"P6\n# gradient\n%d %d\n255\n" % (w, h) + bytes(px)


def test_multimodal_ppm_codec_decodes_for_real():
    """image/ppm goes through a REAL stdlib+numpy decode: header dims
    and grid luminances are properties of the pixels, not a fake."""
    ppm = _make_ppm(w=8, h=6)
    vec = multimodal.decode_payload(ppm, "image/x-portable-pixmap")
    assert len(vec) == multimodal.STUB_FEATURE_DIM
    assert vec[0] == 8.0 and vec[1] == 6.0
    assert abs(vec[2] - 8 / 6) < 1e-12
    # left grid cells darker than right (R ramps with x)
    cells = vec[4:]
    assert cells[0] < cells[3] and cells[8] < cells[11]
    with pytest.raises(ValueError):
        multimodal.decode_payload(b"P6\n8 6\n255\n" + b"\x00" * 10, "image/ppm")
    with pytest.raises(ValueError):
        multimodal.decode_payload(b"P5\n8 6\n255\n", "image/ppm")


def test_multimodal_ppm_resize_real_pixels(spark):
    """resize_images on a PPM asset: output is a valid P6 of the target
    size whose corner pixels equal the nearest-neighbor source pixels;
    non-image assets in the same batch keep the fake path."""
    ppm = _make_ppm(w=8, h=6)
    rows = [
        (1, ppm, {"mime": "image/x-portable-pixmap", "size_bytes": len(ppm)}),
        (2, b"plain words", {"mime": "text/plain", "size_bytes": 11}),
    ]
    schema = "doc_id long, payload binary, meta struct<mime:string, size_bytes:long>"
    assets = spark.createDataFrame(rows, schema)
    got = {r["doc_id"]: r for r in multimodal.resize_images(assets, 4, 2).collect()}
    img = got[1]
    assert (img["src_w"], img["src_h"], img["dst_w"], img["dst_h"]) == (8, 6, 4, 2)
    w2, h2, px = multimodal._ppm_decode(bytes(img["resized"]))
    assert (w2, h2) == (4, 2)
    # nearest-neighbor: out[y,x] = src[y*6//2, x*8//4]; top-left = src[0,0]
    assert px[0:3] == ppm[-8 * 6 * 3 :][0:3]
    # fake path untouched
    assert got[2]["src_w"] == 11 % 640 + 32 and bytes(got[2]["resized"]) == b"plain words"


def test_pandas_cluster_assignment_equals_expression_argmax(spark, sf_dir):
    """The BLAS (mapInPandas matmul) assigner — the production path at
    centroid counts past the expression-tree cap — agrees with the
    oracle-replayable literal-expression argmax at k=8, and runs at a
    k the expression form can't express (k=256)."""
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    cents = sim.ivf_centroids(8, 64)
    dots = sim._dots_spark("embedding", cents)
    dcols = [f"d{i}" for i in range(8)]
    expr_assign = {
        r["vec_id"]: r["cluster_id"]
        for r in emb.select(
            "vec_id", "embedding", *[F.expr(d).alias(c) for d, c in zip(dots, dcols)]
        )
        .select("vec_id", F.expr(sim._argmax_rank_expr(dcols, 0)).alias("cluster_id"))
        .collect()
    }
    blas_assign = {
        r["vec_id"]: r["cluster_id"]
        for r in sim.assign_clusters_pandas(emb, "embedding", "vec_id", cents).collect()
    }
    assert blas_assign == expr_assign
    # k=256: far past the literal-expression cap; every list id in range
    big = sim.ivf_centroids(256, 64)
    out = sim.assign_clusters_pandas(emb, "embedding", "vec_id", big)
    rows = out.collect()
    assert len(rows) == emb.count()
    assert all(0 <= r["cluster_id"] < 256 for r in rows)


def test_bpe_train_merges_matches_python_reference(spark, sf_dir):
    """The distributed BPE trainer's merge sequence equals a pure-
    Python reference (Sennrich-style, same lexicographic tie-break)
    on the fixture corpus — the correctness pin for the rows-only
    driver gate."""
    from collections import Counter

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators.text import bpe_train_merges

    docs = read_table(spark, sf_dir, "documents")
    got = [
        (r["step"], r["left"], r["right"], r["merged"], r["pair_count"])
        for r in bpe_train_merges(docs, "text", "doc_id", num_merges=6)
        .orderBy("step")
        .collect()
    ]

    # pure-python reference
    word_counts = Counter()
    for row in docs.select("text").collect():
        for w in row["text"].split(" "):
            if w:
                word_counts[w] += 1
    vocab = {w: list(w) for w in word_counts}
    expect = []
    for step in range(6):
        pc = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += c
        if not pc:
            break
        (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expect.append((step, l, r, l + r, c))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    assert got == expect


def test_bpe_token_counts_match_python_apply(spark, sf_dir):
    """Applying the learned merges: per-doc BPE token counts equal a
    pure-Python apply of the same merge sequence."""
    from collections import Counter

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators.text import (
        bpe_token_counts,
        bpe_train_merges,
    )

    docs = read_table(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in bpe_train_merges(docs, "text", "doc_id", num_merges=6)
        .orderBy("step")
        .collect()
    ]

    def apply_merges(word):
        syms = list(word)
        for l, r in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    expect = {}
    for row in docs.select("doc_id", "text").collect():
        ws = [w for w in row["text"].split(" ") if w]
        expect[row["doc_id"]] = (len(ws), sum(apply_merges(w) for w in ws))
    got = {
        r["doc_id"]: (r["ws_tokens"], r["bpe_tokens"])
        for r in bpe_token_counts(docs, "text", "doc_id", num_merges=6).collect()
    }
    assert got == expect


def test_bpe_oracle_replace_encoding_equals_greedy_fold():
    """The DuckDB oracle expresses the left-to-right non-overlapping
    merge fold as string replace() over unit-encoded symbols
    (`bpe_oracle_sql`); pin that equivalence on the adversarial cases —
    self-overlap (l == r), a pair whose left is another symbol's
    suffix, and back-to-back matches — against the pure-Python fold,
    with no Spark involved."""
    import duckdb

    from presto_rakam_kafka_spark.operators.text import bpe_oracle_sql

    def fold(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    def ref_train(words, n):
        from collections import Counter

        wc = Counter(words)
        vocab = {w: list(w) for w in wc}
        merges = []
        for step in range(n):
            pc = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += wc[w]
            if not pc:
                break
            (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((step, l, r, l + r, c))
            vocab = {w: fold(s, l, r) for w, s in vocab.items()}
        return merges, vocab, wc

    # aaaa → self-overlap; abab → repeated pair; 'ab'+'b' suffix trap
    corpus = ["aaaa", "aaaa", "abab", "abb", "abb", "abb", "bba", "aaa"]
    merges, vocab, wc = ref_train(corpus, 4)
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW docs AS SELECT 1 AS doc_id, '"
        + " ".join(corpus)
        + "' AS text"
    )
    got = sorted(
        con.sql(bpe_oracle_sql("docs", "text", "doc_id", 4, "merges")).fetchall()
    )
    assert got == merges, (got, merges)
    (did, ws, bpe) = con.sql(
        bpe_oracle_sql("docs", "text", "doc_id", 4, "counts")
    ).fetchall()[0]
    assert ws == len(corpus)
    assert bpe == sum(len(vocab[w]) for w in corpus)


def test_substring_trim_token_conservation_and_idempotence(spark, sf_dir):
    """The trim treatment (a) conserves tokens — output token counts
    equal the kept span length, never exceed the input, and 'keep'
    rows pass text through unchanged — and (b) is idempotent: grams
    are only destroyed, never created, so a second pass over the
    trimmed corpus changes nothing."""
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators.dedup import (
        boilerplate_augment_spark,
        duplicated_span_trim,
    )

    docs = read_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.expr(boilerplate_augment_spark("text", "doc_id")).alias("text"),
    )
    out = duplicated_span_trim(aug, "text", "doc_id", n=10, drop_threshold=0.9)
    rows = {r["doc_id"]: r for r in out.collect()}
    src = {r["doc_id"]: r["text"] for r in aug.collect()}
    actions = {r["action"] for r in rows.values()}
    assert "trim" in actions and "keep" in actions, actions
    for did, r in rows.items():
        assert r["n_tokens_in"] == len(src[did].split(" "))
        if r["action"] == "drop":
            assert r["text_out"] is None and r["n_tokens_out"] == 0
        else:
            assert r["n_tokens_out"] == len(r["text_out"].split(" "))
            assert r["n_tokens_out"] <= r["n_tokens_in"]
            if r["action"] == "keep":
                assert r["text_out"] == src[did]
            else:
                assert r["text_out"] in src[did]  # contiguous token span

    kept = out.filter(F.col("action") != "drop").select(
        "doc_id", F.col("text_out").alias("text")
    )
    again = duplicated_span_trim(kept, "text", "doc_id", n=10, drop_threshold=0.9)
    second = {r["doc_id"]: r for r in again.collect()}
    for did, r in second.items():
        assert r["action"] == "keep", (did, r)
        assert r["text_out"] == rows[did]["text_out"]


def test_ivfpq_upsert_equals_rebuild_and_orphan_invisible(spark, sf_dir):
    """Incremental-index contracts: (a) probe after upsert equals a
    from-scratch rebuild over the full corpus; (b) a delta generation
    written WITHOUT the pointer flip (crash between phases) is
    invisible to readers."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)
    q = emb.filter(F.col("vec_id") < 5)

    path = staging_mkdtemp("ivfpq_inc_test_")
    sim.init_ivfpq_index(spark, base, path, "embedding", "vec_id", dim=64)
    sim.upsert_ivfpq_index(spark, delta, path, "embedding", "vec_id", dim=64)

    got = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.read_ivfpq_index(spark, path), q, "embedding", "vec_id",
                dim=64, k=5,
            ).collect(),
        )
    )
    rebuilt = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.ivfpq_code_corpus(emb, "embedding", "vec_id", dim=64),
                q, "embedding", "vec_id", dim=64, k=5,
            ).collect(),
        )
    )
    assert got == rebuilt

    # orphan delta: renamed into place but never flipped into the pointer
    orphan = os.path.join(path, "gen-0000000002")
    sim.ivfpq_code_corpus(
        emb.filter(F.col("vec_id") < 3), "embedding", "vec_id", dim=64
    ).write.mode("overwrite").partitionBy("list_id").parquet(orphan)
    man = _index_deltas(path)
    assert sorted(man) == ["gen-0000000000", "gen-0000000001"]
    after = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.read_ivfpq_index(spark, path), q, "embedding", "vec_id",
                dim=64, k=5,
            ).collect(),
        )
    )
    assert after == got  # reader never saw the orphan


def test_streaming_ivfpq_index_equals_batch_rebuild(spark, sf_dir):
    """The streaming indexer: micro-batches of new vectors upserted via
    foreachBatch; after the drain, a probe over the incremental index
    equals the batch rebuild over everything indexed."""
    import glob
    import os
    import shutil
    import tempfile
    import time

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim
    from presto_rakam_kafka_spark.streaming.ann_index import index_stream

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    q = emb.filter(F.col("vec_id") < 5)

    path = staging_mkdtemp("ivfpq_stream_idx_")
    sim.init_ivfpq_index(spark, base, path, "embedding", "vec_id", dim=64)

    # stage the other two residue classes as two files → two triggers
    src = staging_mkdtemp("ivfpq_stream_src_")
    now = time.time()
    for i, residue in enumerate((1, 2)):
        stage = os.path.join(src, f"staging{i}")
        emb.filter(F.col("vec_id") % 3 == residue).coalesce(1).write.mode(
            "overwrite"
        ).parquet(stage)
        part = glob.glob(os.path.join(stage, "*.parquet"))[0]
        dst = os.path.join(src, f"part-{i:05d}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (now + i, now + i))
        shutil.rmtree(stage)

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ckpt = staging_mkdtemp("ivfpq_stream_ckpt_")
    query = (
        index_stream(stream, path, "embedding", "vec_id", dim=64, checkpoint=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()

    assert len(_index_deltas(path)) == 3  # init + 2 micro-batches
    got = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.read_ivfpq_index(spark, path), q, "embedding", "vec_id",
                dim=64, k=5,
            ).collect(),
        )
    )
    rebuilt = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.ivfpq_code_corpus(emb, "embedding", "vec_id", dim=64),
                q, "embedding", "vec_id", dim=64, k=5,
            ).collect(),
        )
    )
    assert got == rebuilt


def test_ivfpq_compaction_preserves_probes_and_gc_removes_dead_deltas(spark, sf_dir):
    """Index lifecycle: compaction folds all deltas into one (probe
    results unchanged), old directories survive until gc_ivfpq_index
    removes exactly the unreferenced ones (in-flight-reader window)."""
    import os
    import tempfile

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    path = staging_mkdtemp("ivfpq_compact_test_")
    sim.init_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), path,
        "embedding", "vec_id", dim=64,
    )
    sim.upsert_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), path,
        "embedding", "vec_id", dim=64,
    )

    def probe():
        return sorted(
            map(
                tuple,
                sim.ivfpq_topk_from_index(
                    sim.read_ivfpq_index(spark, path), q, "embedding",
                    "vec_id", dim=64, k=5,
                ).collect(),
            )
        )

    before = probe()
    new_delta = sim.compact_ivfpq_index(spark, path)
    assert list(_index_deltas(path)) == [new_delta]
    assert probe() == before
    # old dirs still on disk (reader retention window): the default
    # time grace retains freshly-superseded dirs (round 13) — nothing
    # is removed until the grace elapses or the caller force-overrides
    dirs = {d for d in os.listdir(path) if d.startswith("gen-")}
    assert new_delta in dirs and len(dirs) == 3
    assert sim.gc_ivfpq_index(path) == []  # inside the grace window
    removed = sim.gc_ivfpq_index(path, grace_s=0.0)  # force-override
    assert sorted(dirs - {new_delta}) == removed
    assert probe() == before


def test_gc_racing_inflight_upsert_never_deletes_precommit_delta(
    spark, sf_dir
):
    """VERDICT r12 #2a: an upsert writes its delta BEFORE its pointer
    flip; a GC firing inside that window — even a forced one, from a
    writer the maintenance lock does not reach — must not delete the
    fresh delta (the upsert would then commit a manifest entry pointing
    at a dead directory and every later probe of those lists would
    fail). An in-flight ``w-`` write dir is never a GC candidate; the
    hook lands the GC deterministically in the write-to-commit
    window."""
    import os

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    path = staging_mkdtemp("ivfpq_gcrace_test_")
    sim.init_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), path,
        "embedding", "vec_id", dim=64,
    )
    gc_report = {}

    def gc_in_window():
        gc_report["removed"] = genstore.gc(path, grace_s=0.0)

    sim._before_flip_hook = gc_in_window
    try:
        delta = sim.upsert_ivfpq_index(
            spark, emb.filter(F.col("vec_id") % 2 == 1), path,
            "embedding", "vec_id", dim=64,
        )
    finally:
        sim._before_flip_hook = None
    assert gc_report["removed"] == []  # the fresh delta survived the GC
    man = _index_deltas(path)
    assert delta in man
    for d in man:  # no manifest entry points at a deleted dir
        assert os.path.isdir(os.path.join(path, d))
    rebuilt = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.ivfpq_code_corpus(emb, "embedding", "vec_id", dim=64),
                q, "embedding", "vec_id", dim=64, k=5,
            ).collect(),
        )
    )
    got = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.read_ivfpq_index(spark, path), q, "embedding",
                "vec_id", dim=64, k=5,
            ).collect(),
        )
    )
    assert got == rebuilt  # probes stay green after the race


def test_bm25_multi_restricted_to_one_query_equals_single(spark, sf_dir):
    """The query-table form is a strict generalization: its rows for
    query 0 equal the single-query `bm25_topk` ranking exactly."""
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators.text import bm25_topk, bm25_topk_multi

    docs = read_table(spark, sf_dir, "documents")
    single = {
        (r["doc_id"], r["rank"]): r["bm25"]
        for r in bm25_topk(docs, "text", "doc_id", query_id=0, k=10).collect()
    }
    multi = {
        (r["doc_id"], r["rank"]): r["bm25"]
        for r in bm25_topk_multi(docs, "text", "doc_id", (0, 1, 2), k=10)
        .filter(F.col("query_id") == 0)
        .collect()
    }
    assert multi == single


def test_rrf3_multi_restricted_to_query0_equals_single(spark, sf_dir):
    """search_hybrid_rrf3_multi's query-0 slice equals the r5
    single-query search_hybrid_rrf3 (same legs, same fusion)."""
    from pyspark.sql import functions as F

    from presto_rakam_kafka_spark import queries as Q

    single = sorted(
        (r["doc_id"], r["r_lex"], r["r_vec"], r["r_bm"], r["rrf"], r["rank"])
        for r in Q.QUERIES["search_hybrid_rrf3"](spark, sf_dir).collect()
    )
    multi = sorted(
        (r["doc_id"], r["r_lex"], r["r_vec"], r["r_bm"], r["rrf"], r["rank"])
        for r in Q.QUERIES["search_hybrid_rrf3_multi"](spark, sf_dir)
        .filter(F.col("query_id") == 0)
        .collect()
    )
    assert multi == single


def test_bpe_oracle_property_random_corpora():
    """Property (hypothesis): over random small corpora the unrolled
    DuckDB oracle's merge sequence equals the pure-Python Sennrich
    trainer — same pair counts, argmax tie-break, and non-overlapping
    left-to-right rewrite — for any number of available merges."""
    import duckdb
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from presto_rakam_kafka_spark.operators.text import bpe_oracle_sql

    def fold(syms, l, r):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                out.append(l + r)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    word = st.text(alphabet="ab", min_size=1, max_size=6)
    corpus = st.lists(word, min_size=2, max_size=12)

    @settings(max_examples=40, deadline=None)
    @given(corpus)
    def check(words):
        from collections import Counter

        wc = Counter(words)
        vocab = {w: list(w) for w in wc}
        expect = []
        n = 3
        for step in range(n):
            pc = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    pc[(a, b)] += wc[w]
            if not pc:
                break
            (l, r), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            expect.append((step, l, r, l + r, c))
            vocab = {w: fold(s, l, r) for w, s in vocab.items()}
        # the oracle's unrolled chain assumes a pair exists per step;
        # skip corpora that run dry earlier (documented precondition)
        if len(expect) < n:
            return
        con = duckdb.connect()
        con.sql(
            "CREATE VIEW docs AS SELECT 1 AS doc_id, '"
            + " ".join(words)
            + "' AS text"
        )
        got = sorted(
            con.sql(bpe_oracle_sql("docs", "text", "doc_id", n, "merges")).fetchall()
        )
        assert got == expect, (words, got, expect)

    check()


def test_export_dataset_manifest_roundtrip(spark, sf_dir):
    """Export writes md5-deterministic shards + a manifest; the reader
    integrity check passes; reloaded rows equal the input; tampering
    with a shard file makes verify_export fail."""
    import glob
    import os
    import tempfile

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import datasets as ds

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = staging_mkdtemp("export_ds_")
    manifest = ds.export_dataset(docs, path, "text", "doc_id", num_shards=4)
    assert manifest["total_docs"] == docs.count()
    assert set(manifest["shards"]) == {0, 1, 2, 3}
    assert ds.verify_export(spark, path, "text", "doc_id")

    back = spark.read.parquet(path).select("doc_id", "text")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))

    # determinism: a re-export lands every doc in the same shard
    path2 = staging_mkdtemp("export_ds2_")
    m2 = ds.export_dataset(docs, path2, "text", "doc_id", num_shards=4)
    assert m2["shards"] == manifest["shards"]

    # tamper: drop one data file from one shard -> integrity fails
    victim = glob.glob(os.path.join(path, "shard=1", "*.parquet"))[0]
    os.remove(victim)
    assert not ds.verify_export(spark, path, "text", "doc_id")


def test_ivfpq_epoch_upsert_replay_is_noop(spark, sf_dir):
    """Streaming-indexer replay semantics (ADVICE r6): an upsert whose
    txn (app_id, epoch) is already recorded in the index pointer does
    nothing — delta list, index contents, and probe results unchanged —
    so a replayed foreachBatch can never double-index its vectors."""
    import tempfile

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.filter(F.col("vec_id") % 2 == 0)
    delta = emb.filter(F.col("vec_id") % 2 == 1)

    path = staging_mkdtemp("ivfpq_epoch_replay_")
    sim.init_ivfpq_index(spark, base, path, "embedding", "vec_id", dim=64)
    name = sim.upsert_ivfpq_index(
        spark, delta, path, "embedding", "vec_id", dim=64,
        txn=("app", 7),
    )
    assert name == "gen-0000000001"
    assert genstore.read_pointer(path)[:2] == (name, {"app": 7})
    deltas = _index_deltas(path)
    assert sorted(deltas) == ["gen-0000000000", "gen-0000000001"]
    rows = sim.read_ivfpq_index(spark, path).count()

    # replay: same txn again — exact no-op
    name2 = sim.upsert_ivfpq_index(
        spark, delta, path, "embedding", "vec_id", dim=64,
        txn=("app", 7),
    )
    assert name2 == name
    assert _index_deltas(path) == deltas
    assert sim.read_ivfpq_index(spark, path).count() == rows

    # upserts without a txn still commit on top, keeping the record
    more = emb.filter(F.col("vec_id") < 3)
    name3 = sim.upsert_ivfpq_index(
        spark, more, path, "embedding", "vec_id", dim=64
    )
    assert name3 == "gen-0000000002"
    assert genstore.read_pointer(path)[:2] == (name3, {"app": 7})


def test_ivfpq_refined_recall_on_clustered_corpus(spark):
    """The recall contract of the serving configuration (r6 verdict
    next-3): on a CLUSTERED corpus (the regime embeddings actually live
    in — 16 unit centers + sigma-0.06 noise), fitted IVF-PQ with the
    exact re-rank stage must reach recall@10 >= 0.9 against brute-force
    cosine, while the ADC-only probe at the same probe budget is
    substantially worse (the refine stage is what buys the recall, for
    k*refine exact scorings per query). The oracle gate row pins exact
    VALUES; this pins the QUALITY claim."""
    import numpy as np
    import pandas as pd
    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    centers = rng.standard_normal((16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.integers(0, 16, size=2000)] + 0.06 * rng.standard_normal(
        (2000, 64)
    )
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(2000), "embedding": list(X)}),
        "vec_id LONG, embedding ARRAY<DOUBLE>",
    )
    queries = df.filter(F.col("vec_id") < 8)

    truth = {}
    for r in sim.cosine_topk(df, queries, "embedding", "vec_id", k=10).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    cents = sim.fit_centroids(df, "embedding", 16)
    books = sim.fit_pq_books(df, "embedding", 64, m=16, ksub=16)
    coded = sim.ivfpq_code_corpus(
        df, "embedding", "vec_id", 64, num_centroids=16, m=16, ksub=16,
        centroids=cents, books=books, keep_vector=True,
    )

    def recall(result_rows):
        got = {}
        for r in result_rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & t) for q, t in truth.items()
        ) / sum(len(t) for t in truth.values())

    refined = sim.ivfpq_topk_from_index(
        coded, queries, "embedding", "vec_id", 64, k=10,
        num_centroids=16, nprobe=4, m=16, ksub=16,
        centroids=cents, books=books, refine_factor=16,
    ).collect()
    adc_only = sim.ivfpq_topk_from_index(
        coded, queries, "embedding", "vec_id", 64, k=10,
        num_centroids=16, nprobe=4, m=16, ksub=16,
        centroids=cents, books=books,
    ).collect()

    r_refined, r_adc = recall(refined), recall(adc_only)
    assert r_refined >= 0.9, (r_refined, r_adc)
    assert r_refined >= r_adc + 0.2, (r_refined, r_adc)


def test_ivfpq_codebooks_fold_out_of_the_optimized_plan(spark, sf_dir):
    """Each IVF/PQ codebook rides as one ``from_json`` literal that
    ConstantFolding evaluates at optimization time: the analyzed plan
    of an IVF/PQ query holds the ``from_json`` calls, the optimized
    plan none (no JSON parsing per row or per task)."""
    emb = read_table(spark, sf_dir, "embeddings")
    df = similarity.ivfpq_topk(
        emb, emb.filter(F.col("vec_id") < 10), "embedding", "vec_id",
        dim=64, k=5,
    )
    qe = df._jdf.queryExecution()
    assert "from_json" in qe.analyzed().toString()
    optimized = qe.optimizedPlan().toString()
    assert "from_json" not in optimized
    assert "JsonToStructs" not in optimized


def test_ivfpq_pandas_codec_equals_expr_codec(spark, sf_dir):
    """The production encoder (Arrow mapInPandas, two BLAS matmuls) and
    the oracle encoder (Catalyst expressions) must assign identical
    list ids and codes — same math, same rounded half-norms, same
    first-argmax tie-break. Run at the serving geometry (m=16) where
    the pandas path exists to replace 4096 generated expressions."""
    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    kwargs = dict(num_centroids=16, m=16, ksub=16)
    expr = {
        r["neighbor_id"]: tuple(r[c] for c in ["list_id"] + [f"code{j}" for j in range(16)])
        for r in sim.ivfpq_code_corpus(
            emb, "embedding", "vec_id", 64, **kwargs
        ).collect()
    }
    pandas = {
        r["neighbor_id"]: tuple(r[c] for c in ["list_id"] + [f"code{j}" for j in range(16)])
        for r in sim.ivfpq_code_corpus(
            emb, "embedding", "vec_id", 64, codec="pandas", **kwargs
        ).collect()
    }
    assert pandas == expr


def test_ivfpq_pandas_probe_equals_expr_probe(spark, sf_dir):
    """The serving ADC probe (numpy LUTs + Arrow gather-sum,
    probe_codec='pandas') must emit the IDENTICAL top-k rows as the
    oracle-replayable expression probe — same probe routing, bit-equal
    LUT doubles (left-assoc accumulation), 6-decimal rounding applied
    in Spark in both codecs — for the plain ADC probe AND the refined
    (exact re-rank) probe, at the serving geometry (m=16, ksub=256)
    where the expr probe is 4096 generated expressions."""
    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    kwargs = dict(num_centroids=16, nprobe=3, m=16, ksub=256)
    coded = sim.ivfpq_code_corpus(
        emb, "embedding", "vec_id", 64, keep_vector=True,
        codec="pandas", num_centroids=16, m=16, ksub=256,
    )

    for refine in (None, 4):
        expr_rows = sorted(map(tuple, sim.ivfpq_topk_from_index(
            coded, q, "embedding", "vec_id", dim=64, k=5,
            refine_factor=refine, **kwargs,
        ).collect()))
        pandas_rows = sorted(map(tuple, sim.ivfpq_topk_from_index(
            coded, q, "embedding", "vec_id", dim=64, k=5,
            refine_factor=refine, probe_codec="pandas", **kwargs,
        ).collect()))
        assert pandas_rows == expr_rows, (refine, pandas_rows[:3], expr_rows[:3])


def test_split_leakage_safe_no_cluster_straddles(spark, sf_dir):
    """The leakage-safe split's invariant: every near-dup cluster lands
    entirely inside ONE split (per-doc hashing cannot guarantee this —
    a paraphrase pair split across train/test is contamination), and
    the fixture actually exercises it (at least one multi-doc group)."""
    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark import queries as Q

    rows = Q.QUERIES["split_leakage_safe"](spark, sf_dir)
    per_group = rows.groupBy("group_id").agg(
        F.count_distinct("split").alias("n_splits"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    assert per_group.filter("n_splits > 1").count() == 0
    assert per_group.filter("n_docs > 1").count() > 0  # fixture has near-dups


def test_contrastive_indexed_hard_leg_is_index_bounded(spark, sf_dir):
    """The miner's 100 TB flag (VERDICT r9 next-1): with index_path=
    the hard leg routes through the partition-pruned IVF-PQ probe —
    never the |corpus|x|anchors| crossJoin — while the random leg's
    corpus pass carries only ids + the md5 draw. Contract vs brute
    force: rand rows IDENTICAL (same seeded draw), hard rows are
    non-near-duplicates whose cosine never exceeds the brute optimum,
    with high agreement at fixture scale (the recall relationship of
    sim_topk_ivfpq_refined to sim_topk_bruteforce)."""
    import re

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 40 == 1)
    path = sim.stage_ivfpq_index(
        spark, emb, sf_dir, "embedding", "vec_id", dim=64, store_vectors=True
    )
    brute = sim.mine_contrastive_pairs(emb, anchors, "embedding", "vec_id")
    indexed = sim.mine_contrastive_pairs(
        emb, anchors, "embedding", "vec_id",
        spark=spark, index_path=path, dim=64,
    )
    b = {(r["anchor_id"], r["kind"], r["rank"]): (r["pair_id"], r["cosine"])
         for r in brute.collect()}
    i = {(r["anchor_id"], r["kind"], r["rank"]): (r["pair_id"], r["cosine"])
         for r in indexed.collect()}

    # rand leg: bit-identical
    assert {k: v for k, v in b.items() if k[1] == "rand"} == \
           {k: v for k, v in i.items() if k[1] == "rand"}

    # hard leg: every indexed pick is a non-dup and never beats brute
    hard_b = {k[0]: v for k, v in b.items() if k[1] == "hard"}
    hard_i = {k[0]: v for k, v in i.items() if k[1] == "hard"}
    assert set(hard_i) <= set(hard_b)
    agree = 0
    for a_id, (pid, cos) in hard_i.items():
        assert cos < 0.95
        assert cos <= hard_b[a_id][1] + 1e-9
        agree += pid == hard_b[a_id][0]
    # fixture-scale recall: the probed top-overfetch usually contains
    # the brute optimum (same relationship the refined probe receipts)
    assert len(hard_i) >= 0.9 * len(hard_b), (len(hard_i), len(hard_b))
    assert agree >= 0.5 * len(hard_i), (agree, len(hard_i))

    # plan shape: the index scan is partition-pruned to the anchors'
    # probe lists, and the rand leg's corpus pass is vector-free (its
    # embeddings scan reads ONLY vec_id — column pruning receipt)
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan, plan[:3000]
    assert re.search(r"ReadSchema: struct<vec_id:bigint>(?!,)", plan), \
        "rand-leg corpus pass still reads the vector column"


def test_ann_index_concurrent_upserts_keep_both_deltas(spark):
    """Round 12: two upserts launched concurrently must BOTH stay in
    the manifest — the pre-fix read-merge-flip lost whichever delta
    flipped first (orphaned on disk, its vectors absent from every
    probe). Upserts now queue on the index's maintenance lock, so the
    second commits on top of the first."""
    import threading

    import numpy as np

    from presto_rakam_kafka_spark.operators import similarity as SIM

    rng = np.random.default_rng(7)

    def vecs(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in rng.normal(size=8)]) for i in ids],
            "id LONG, emb ARRAY<FLOAT>",
        )

    path = None
    import tempfile
    path = tempfile.mkdtemp(prefix="ann_conc_")
    SIM.init_ivfpq_index(
        spark, vecs(range(0, 64)), path, "emb", "id", 8,
        num_centroids=4, m=4, ksub=16,
    )

    errs: list[BaseException] = []

    def upsert(lo, hi, app):
        try:
            SIM.upsert_ivfpq_index(
                spark, vecs(range(lo, hi)), path, "emb", "id", 8,
                num_centroids=4, m=4, ksub=16, txn=(app, 1),
            )
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errs.append(exc)

    t1 = threading.Thread(target=upsert, args=(64, 96, "a"))
    t2 = threading.Thread(target=upsert, args=(96, 128, "b"))
    t1.start(); t2.start(); t1.join(timeout=300); t2.join(timeout=300)
    assert not t1.is_alive() and not t2.is_alive()
    assert not errs, errs
    assert genstore.read_pointer(path)[1] == {"a": 1, "b": 1}
    assert len(_index_deltas(path)) == 3
    # every vector is probe-visible
    assert SIM.read_ivfpq_index(spark, path).count() == 128


def test_ann_legacy_delta_list_pointer_is_refused_not_overwritten(
    spark, tmp_path
):
    """An index pointer from the delta-list layout (``{"deltas": [...]}``,
    no generation) is refused with an error naming the rebuild, and
    left as it was: an unfenced first commit over it would drop every
    legacy delta. ``init_ivfpq_index`` is the rebuild."""
    import json
    import os

    import numpy as np

    from presto_rakam_kafka_spark.operators import similarity as SIM

    rng = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(16)],
        "id LONG, emb ARRAY<FLOAT>",
    )
    geom = {"num_centroids": 4, "m": 4, "ksub": 16}
    path = str(tmp_path / "legacy_index")
    os.makedirs(path)
    ptr = os.path.join(path, "_CURRENT")
    with open(ptr, "w") as fh:
        json.dump({"deltas": ["delta-00000000"]}, fh)
    for op in (
        lambda: SIM.upsert_ivfpq_index(spark, vecs, path, "emb", "id", 8,
                                       **geom),
        lambda: SIM.compact_ivfpq_index(spark, path),
        lambda: SIM.read_ivfpq_index(spark, path),
    ):
        with pytest.raises(ValueError, match="init_ivfpq_index"):
            op()
    with open(ptr) as fh:
        assert json.load(fh) == {"deltas": ["delta-00000000"]}
    SIM.init_ivfpq_index(spark, vecs, path, "emb", "id", 8, **geom)
    assert list(_index_deltas(path)) == ["gen-0000000000"]
    assert SIM.read_ivfpq_index(spark, path).count() == 16


def test_ann_compaction_fences_when_upsert_lands_midfold(spark, monkeypatch):
    """A compaction whose fold misses a mid-fold upsert by a writer the
    maintenance lock does not reach (the unlocked upsert body) must
    refuse its publish (FencedMaintenanceError) — flipping it would
    drop the upsert's vectors from the index."""
    import tempfile

    import numpy as np
    import pytest

    from presto_rakam_kafka_spark.operators import similarity as SIM

    rng = np.random.default_rng(11)

    def vecs(ids):
        return spark.createDataFrame(
            [(int(i), [float(x) for x in rng.normal(size=8)]) for i in ids],
            "id LONG, emb ARRAY<FLOAT>",
        )

    path = tempfile.mkdtemp(prefix="ann_fence_")
    SIM.init_ivfpq_index(
        spark, vecs(range(0, 32)), path, "emb", "id", 8,
        num_centroids=4, m=4, ksub=16,
    )

    real_read = SIM.read_ivfpq_index
    fired = []

    def read_then_upsert(spark_, p):
        out = real_read(spark_, p)
        if not fired:
            fired.append(1)
            SIM._upsert_locked(
                vecs(range(32, 48)), path, "emb", "id", 8, 4, 4, 16,
                None, False,
            )
        return out

    monkeypatch.setattr(SIM, "read_ivfpq_index", read_then_upsert)
    with pytest.raises(genstore.FencedMaintenanceError):
        SIM.compact_ivfpq_index(spark, path)
    # the mid-fold upsert's vectors are still probe-visible
    assert real_read(spark, path).count() == 48
    # and a rerun compaction (no race) succeeds
    monkeypatch.setattr(SIM, "read_ivfpq_index", real_read)
    SIM.compact_ivfpq_index(spark, path)
    assert real_read(spark, path).count() == 48


def test_streaming_and_batch_upsert_race_both_deltas_survive(spark, sf_dir):
    """VERDICT r12 next-5: a STREAMING ingest and a concurrent BATCH
    upsert land on one index — the batch upsert starts on another
    thread inside the stream upsert's write-to-commit window, queues on
    the index's maintenance lock, and commits on top of the stream's
    delta: BOTH deltas stay in the manifest (the pre-round-12 flip
    orphaned the earlier one). Probe equals the full batch rebuild."""
    from concurrent.futures import ThreadPoolExecutor

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.operators import similarity as sim
    from presto_rakam_kafka_spark.streaming.ann_index import index_stream

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    path = staging_mkdtemp("ivfpq_race_idx_")
    sim.init_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 3 == 0), path,
        "embedding", "vec_id", dim=64,
    )
    src = staging_mkdtemp("ivfpq_race_src_")
    emb.filter(F.col("vec_id") % 3 == 1).write.mode("overwrite").parquet(src)

    batch = []
    with ThreadPoolExecutor(max_workers=1) as pool:

        def batch_in_window():
            sim._before_flip_hook = None  # fire once, no recursion
            batch.append(pool.submit(
                sim.upsert_ivfpq_index,
                spark, emb.filter(F.col("vec_id") % 3 == 2), path,
                "embedding", "vec_id", dim=64,
            ))

        sim._before_flip_hook = batch_in_window
        try:
            query = (
                index_stream(
                    spark.readStream.schema(emb.schema).parquet(src),
                    path, "embedding", "vec_id", dim=64,
                    checkpoint=staging_mkdtemp("ivfpq_race_ckpt_"),
                )
                .trigger(availableNow=True)
                .start()
            )
            query.awaitTermination()
        finally:
            sim._before_flip_hook = None
    # the stream committed gen 1, the queued batch upsert gen 2 on top
    assert batch and batch[0].result(timeout=0) == "gen-0000000002"
    man = _index_deltas(path)
    assert len(man) == 3, man  # init + streaming delta + batch delta
    assert genstore.read_pointer(path)[1] == {"default": 0}  # the stream's
    got = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.read_ivfpq_index(spark, path), q, "embedding",
                "vec_id", dim=64, k=5,
            ).collect(),
        )
    )
    rebuilt = sorted(
        map(
            tuple,
            sim.ivfpq_topk_from_index(
                sim.ivfpq_code_corpus(emb, "embedding", "vec_id", dim=64),
                q, "embedding", "vec_id", dim=64, k=5,
            ).collect(),
        )
    )
    assert got == rebuilt


def test_png_codec_roundtrip_all_filters_and_color_types():
    """Round 13: the PNG codec is a REAL compressed decode (stdlib
    zlib). Round-trips with cycling filters exercise all five unfilter
    paths; gray/palette/RGBA color types normalize to the same RGB."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from presto_rakam_kafka_spark.operators import multimodal as mm

    rng = np.random.default_rng(7)
    for w, h in ((1, 1), (3, 2), (16, 11), (40, 23)):
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()
        for filters in ("none", "cycle"):
            payload = mm._png_encode(w, h, rgb, filters=filters)
            dw, dh, out = mm._png_decode(payload)
            assert (dw, dh) == (w, h)
            assert out == rgb, f"{w}x{h} filters={filters}"

    # features share the PPM layout over identical pixels
    rgb = rng.integers(0, 256, size=(9, 12, 3), dtype=np.uint8).tobytes()
    png_vec = mm.decode_payload(mm._png_encode(12, 9, rgb), "image/png")
    ppm_vec = mm.decode_payload(mm._ppm_encode(12, 9, rgb), "image/ppm")
    assert png_vec == ppm_vec
    assert len(png_vec) == mm.STUB_FEATURE_DIM

    # corrupt payloads take the ValueError (drop-and-log) lane
    good = mm._png_encode(4, 4, bytes(48))
    with pytest.raises(ValueError):
        mm._png_decode(b"not a png at all")
    flipped = bytearray(good)
    flipped[len(mm._PNG_SIG) + 20] ^= 0xFF  # inside IHDR data → CRC fail
    with pytest.raises(ValueError):
        mm._png_decode(bytes(flipped))

    # gray (color type 0) and RGBA (6) normalize to RGB
    def chunk(name, data):
        return (struct.pack(">I", len(data)) + name + data
                + struct.pack(">I", zlib.crc32(name + data) & 0xFFFFFFFF))

    gray = np.arange(12, dtype=np.uint8).reshape(3, 4)
    raw = b"".join(b"\x00" + gray[r].tobytes() for r in range(3))
    g_png = (mm._PNG_SIG
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 0, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    dw, dh, rgb_out = mm._png_decode(g_png)
    assert (dw, dh) == (4, 3)
    assert np.array_equal(
        np.frombuffer(rgb_out, np.uint8).reshape(3, 4, 3),
        np.repeat(gray[:, :, None], 3, axis=2),
    )

    rgba = np.dstack([gray, gray * 2, gray * 3, np.full((3, 4), 9, np.uint8)])
    raw = b"".join(b"\x00" + rgba[r].tobytes() for r in range(3))
    a_png = (mm._PNG_SIG
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 3, 8, 6, 0, 0, 0))
             + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    _, _, rgb_out = mm._png_decode(a_png)
    assert np.array_equal(
        np.frombuffer(rgb_out, np.uint8).reshape(3, 4, 3), rgba[:, :, :3]
    )

    # palette (color type 3)
    pal = bytes([250, 0, 0, 0, 250, 0, 0, 0, 250])
    idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(2))
    p_png = (mm._PNG_SIG
             + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0))
             + chunk(b"PLTE", pal)
             + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))
    _, _, rgb_out = mm._png_decode(p_png)
    exp = np.array([[[250, 0, 0], [0, 250, 0]], [[0, 0, 250], [250, 0, 0]]],
                   dtype=np.uint8)
    assert np.array_equal(np.frombuffer(rgb_out, np.uint8).reshape(2, 2, 3), exp)


def test_png_resize_through_spark_stage(spark):
    """resize_images handles image/png for REAL: decoded header dims,
    valid re-encoded PNG output at the target size."""
    import numpy as np

    from presto_rakam_kafka_spark.operators import multimodal as mm

    rng = np.random.default_rng(11)
    rows = []
    for doc_id, (w, h) in enumerate(((20, 10), (7, 7))):
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8).tobytes()
        rows.append((doc_id, mm._png_encode(w, h, rgb), ("image/png", w * h)))
    df = spark.createDataFrame(
        rows,
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<mime STRING, size_bytes LONG>",
    )
    out = {r["doc_id"]: r for r in mm.resize_images(df, 8, 6).collect()}
    assert (out[0]["src_w"], out[0]["src_h"]) == (20, 10)
    assert (out[1]["src_w"], out[1]["src_h"]) == (7, 7)
    for r in out.values():
        dw, dh, _rgb = mm._png_decode(bytes(r["resized"]))
        assert (dw, dh) == (8, 6)


def test_gc_clears_stale_marker_on_live_delta(spark, sf_dir):
    """Round-13 third review: a .RETIRED marker written while a delta
    was transiently unreferenced (the pre-commit upsert window) must be
    CLEARED once the delta is live — otherwise the first GC pass after
    a real supersession reads the hours-old marker and deletes with
    zero grace, stranding mid-scan readers."""
    import json
    import os

    import pyspark.sql.functions as F

    from presto_rakam_kafka_spark.fixtures import read_table
    from presto_rakam_kafka_spark.gc_utils import RETIRED_MARKER
    from presto_rakam_kafka_spark.operators import similarity as sim

    emb = read_table(spark, sf_dir, "embeddings")
    path = staging_mkdtemp("ivfpq_marker_test_")
    sim.init_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 0), path,
        "embedding", "vec_id", dim=64,
    )
    delta = sim.upsert_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 2 == 1), path,
        "embedding", "vec_id", dim=64,
    )
    # a GC pass long ago observed the delta pre-commit: stale old marker
    marker = os.path.join(path, delta, RETIRED_MARKER)
    with open(marker, "w") as fh:
        json.dump({"retired_at": 0.0}, fh)
    assert sim.gc_ivfpq_index(path) == []  # live: nothing removed
    assert not os.path.exists(marker)  # and the stale clock was cleared
    # after a real supersession the grace starts FRESH
    sim.compact_ivfpq_index(spark, path)
    assert sim.gc_ivfpq_index(path) == []  # first observation only
    assert sim.gc_ivfpq_index(path) == []  # still inside the grace


def test_multimodal_corrupt_assets_drop_not_fail(spark):
    """Round-13 third review: a corrupt payload under a REAL codec must
    take the decoded=False lane in extract_features and be DROPPED by
    resize_images — one bad asset must never fail the stage."""
    import numpy as np

    from presto_rakam_kafka_spark.operators import multimodal as mm

    rng = np.random.default_rng(3)
    good_rgb = rng.integers(0, 256, size=(6, 8, 3), dtype=np.uint8).tobytes()
    good = mm._png_encode(8, 6, good_rgb)
    corrupt = bytearray(good)
    corrupt[len(mm._PNG_SIG) + 25] ^= 0x55  # CRC mismatch
    rows = [
        (1, good, ("image/png", len(good))),
        (2, bytes(corrupt), ("image/png", len(corrupt))),
        (3, b"P6 truncated", ("image/ppm", 12)),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<mime STRING, size_bytes LONG>",
    )
    feats = {r["doc_id"]: r for r in mm.extract_features(df).collect()}
    assert feats[1]["decoded"] is True
    assert feats[2]["decoded"] is False  # corrupt: graceful row
    assert feats[3]["decoded"] is False
    resized = {r["doc_id"] for r in mm.resize_images(df, 4, 4).collect()}
    assert resized == {1}  # corrupt assets dropped, stage alive

    # zero-dimension / malformed-IHDR payloads are ValueError, not
    # ZeroDivisionError/struct.error escaping the corrupt lane
    import struct
    import zlib

    import pytest

    def chunk(name, data):
        return (struct.pack(">I", len(data)) + name + data
                + struct.pack(">I", zlib.crc32(name + data) & 0xFFFFFFFF))

    zero = (mm._PNG_SIG
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 4, 0, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"")) + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        mm._png_decode(zero)
    short_ihdr = (mm._PNG_SIG + chunk(b"IHDR", b"\x00" * 7)
                  + chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        mm._png_decode(short_ihdr)


def test_png_roundtrip_property():
    """Property (hypothesis): encode→decode is identity for arbitrary
    dims/pixels under both filter modes — the whole filter matrix, tiny
    and degenerate shapes included."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from presto_rakam_kafka_spark.operators import multimodal as mm

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 17),
        seed=st.integers(0, 2**31 - 1),
        filters=st.sampled_from(["none", "cycle"]),
    )
    def check(w, h, seed, filters):
        rgb = (
            np.random.default_rng(seed)
            .integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            .tobytes()
        )
        dw, dh, out = mm._png_decode(mm._png_encode(w, h, rgb, filters=filters))
        assert (dw, dh) == (w, h) and out == rgb

    check()


def test_gif_codec_roundtrip_and_frame_count():
    """Round 13: the GIF codec is a REAL LZW implementation. Encode→
    decode round-trips multi-frame paletted animations exactly; the
    container block-walk counts frames without touching pixel data;
    corrupt payloads take the ValueError lane."""
    import numpy as np
    import pytest

    from presto_rakam_kafka_spark.operators import multimodal as mm

    rng = np.random.default_rng(5)
    # ≤256 distinct colors so the encoder can build a palette
    pal = rng.integers(0, 256, size=(17, 3), dtype=np.uint8)
    for w, h, n_frames in ((1, 1, 1), (13, 9, 3), (40, 25, 5)):
        frames = [
            pal[rng.integers(0, len(pal), size=(h, w))].tobytes()
            for _ in range(n_frames)
        ]
        gif = mm._gif_encode(w, h, frames)
        assert mm.gif_frame_count(gif) == n_frames
        dw, dh, out = mm._gif_decode(gif)
        assert (dw, dh) == (w, h)
        assert out == frames, f"{w}x{h}x{n_frames}"

    # a long low-entropy stream forces LZW table growth + wide codes
    grad = np.tile(np.arange(200, dtype=np.uint8) % 7, 220)[: 200 * 200]
    frame = pal[grad.reshape(200, 200) % len(pal)].tobytes()
    gif = mm._gif_encode(200, 200, [frame])
    _, _, out = mm._gif_decode(gif)
    assert out == [frame]

    # features: first-frame grid, same layout as PPM/PNG
    f0 = pal[rng.integers(0, len(pal), size=(9, 12))].tobytes()
    vec = mm.decode_payload(mm._gif_encode(12, 9, [f0]), "image/gif")
    assert len(vec) == mm.STUB_FEATURE_DIM
    assert vec == mm._rgb_grid_features(12, 9, f0)

    with pytest.raises(ValueError):
        mm._gif_decode(b"GIF89a truncated garbage")
    with pytest.raises(ValueError):
        mm.gif_frame_count(b"not a gif")


def test_gif_lzw_decoder_against_handcrafted_literal_stream():
    """Validate the decoder independently of our own encoder: a
    hand-packed stream of LITERAL codes only (every pixel emitted as a
    root code, widths growing as the dictionary fills per spec) must
    decode to exactly those pixels — this catches an encoder/decoder
    bug pair that a round-trip test would cancel out."""
    from presto_rakam_kafka_spark.operators import multimodal as mm

    mcs = 2  # roots 0..3, clear=4, eoi=5, first dynamic=6
    pixels = [0, 1, 2, 3, 0, 1, 2, 3, 3, 2, 1, 0]

    codes = [(4, 3)]  # CLEAR at initial width 3
    table_next, width = 6, 3
    for p in pixels:
        codes.append((p, width))
        # decoder adds one entry per code after the first; mirror that
        if codes[-1] != codes[1]:  # not the very first pixel code
            table_next += 1
            if table_next == (1 << width) and width < 12:
                width += 1
    codes.append((5, width))  # EOI

    acc = nbits = 0
    out = bytearray()
    for code, w in codes:
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    decoded = mm._gif_lzw_decode(mcs, bytes(out))
    assert list(decoded) == pixels


def test_gif_transparency_and_disposal_compositing():
    """A second frame with a transparent index must leave the first
    frame's pixels visible underneath; restore-to-background disposal
    clears the region for the NEXT frame."""
    import struct

    import numpy as np

    from presto_rakam_kafka_spark.operators import multimodal as mm

    # hand-build a 2-frame GIF: 2x1 screen, GCT = [red, green, blue]
    gct = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0])  # padded to 4
    head = b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x81, 3, 0)
    mcs = 2

    def frame(indices, gce=None):
        blocks = b""
        if gce is not None:
            blocks += b"\x21\xf9" + bytes([len(gce)]) + gce + b"\x00"
        blocks += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
        lzw = mm._gif_lzw_encode(mcs, bytes(indices))
        blocks += bytes([mcs, len(lzw)]) + lzw + b"\x00"
        return blocks

    # frame 1: [red, green]; frame 2: [transparent(idx 3), blue]
    gif = (head + gct
           + frame([0, 1])
           + frame([3, 2], gce=bytes([0x01, 0, 0, 3]))  # transparent=3
           + b"\x3b")
    w, h, frames = mm._gif_decode(gif)
    assert (w, h) == (2, 1) and len(frames) == 2
    f1 = np.frombuffer(frames[0], np.uint8).reshape(1, 2, 3)
    f2 = np.frombuffer(frames[1], np.uint8).reshape(1, 2, 3)
    assert f1[0, 0].tolist() == [255, 0, 0] and f1[0, 1].tolist() == [0, 255, 0]
    # pixel 0 transparent → frame 1's red shows through; pixel 1 → blue
    assert f2[0, 0].tolist() == [255, 0, 0] and f2[0, 1].tolist() == [0, 0, 255]


def test_gif_frame_sampling_real_counts(spark):
    """sample_frames uses the REAL container frame count for image/gif
    and drops corrupt animated assets."""
    import numpy as np

    from presto_rakam_kafka_spark.operators import multimodal as mm

    rng = np.random.default_rng(9)
    pal = rng.integers(0, 256, size=(5, 3), dtype=np.uint8)

    def gif_with(n):
        frames = [
            pal[rng.integers(0, 5, size=(4, 6))].tobytes() for _ in range(n)
        ]
        return mm._gif_encode(6, 4, frames)

    rows = [
        (1, gif_with(10), ("image/gif", 0)),
        (2, gif_with(3), ("image/gif", 0)),
        (3, b"GIF89a corrupt", ("image/gif", 0)),
        (4, b"x" * 250, ("video/mp4", 250)),  # fake lane unchanged
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<mime STRING, size_bytes LONG>",
    )
    out = mm.sample_frames(df, every_n=4).collect()
    got = {}
    for r in out:
        got.setdefault(r["doc_id"], []).append((r["frame_idx"], r["n_frames"]))
    assert sorted(got[1]) == [(0, 10), (4, 10), (8, 10)]  # real count
    assert sorted(got[2]) == [(0, 3)]
    assert 3 not in got  # corrupt animated asset dropped
    assert got[4][0][1] == 250 // 100 + 1  # deterministic fake intact


def test_gif_malformed_payloads_stay_in_valueerror_lane(spark):
    """Round-13 fourth review: every truncation point must raise
    ValueError (never struct.error/IndexError), GCE scope is one image
    block, and disposal-2 restores the GLOBAL background — with the
    corrupt cases surviving the Spark lanes as drops, not job
    failures."""
    import struct

    import numpy as np
    import pytest

    from presto_rakam_kafka_spark.operators import multimodal as mm

    truncated = [
        b"GIF89a\x01\x02",                      # short screen descriptor
        b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0, 0, 0) + b"\x2c\x00",
        b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0, 0, 0) + b"\x21",
    ]
    for p in truncated:
        with pytest.raises(ValueError):
            mm.gif_frame_count(p)
        with pytest.raises(ValueError):
            mm._gif_decode(p)

    # the corrupt payloads flow through the Spark lanes as drops
    rows = [(i, p, ("image/gif", len(p))) for i, p in enumerate(truncated)]
    df = spark.createDataFrame(
        rows,
        "doc_id LONG, payload BINARY, "
        "meta STRUCT<mime STRING, size_bytes LONG>",
    )
    assert mm.sample_frames(df, every_n=2).count() == 0  # dropped
    feats = mm.extract_features(df).collect()
    assert len(feats) == 3 and all(not r["decoded"] for r in feats)

    # GCE scope: frame 2 has NO GCE → must NOT inherit frame 1's
    # transparency
    gct = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0])
    head = b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x81, 3, 0)
    mcs = 2

    def frame(indices, gce=None):
        blocks = b""
        if gce is not None:
            blocks += b"\x21\xf9" + bytes([len(gce)]) + gce + b"\x00"
        blocks += struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0)
        lzw = mm._gif_lzw_encode(mcs, bytes(indices))
        blocks += bytes([mcs, len(lzw)]) + lzw + b"\x00"
        return blocks

    gif = (head + gct
           + frame([0, 0], gce=bytes([0x01, 0, 0, 1]))  # transparent=1
           + frame([1, 2])  # no GCE: index 1 is OPAQUE green here
           + b"\x3b")
    _w, _h, frames = mm._gif_decode(gif)
    f2 = np.frombuffer(frames[1], np.uint8).reshape(1, 2, 3)
    assert f2[0, 0].tolist() == [0, 255, 0]  # green, not inherited-through red

    # disposal-2 restores the GLOBAL background even when the frame
    # carries a smaller LOCAL palette (bg index out of local range)
    lct = bytes([0, 0, 0, 10, 20, 30, 0, 0, 0, 0, 0, 0])  # 4-entry local
    gif2 = (b"GIF89a" + struct.pack("<HHBBB", 2, 1, 0x81, 2, 0) + gct
            + b"\x21\xf9\x04" + bytes([0x08, 0, 0, 0]) + b"\x00"  # disposal=2
            + struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 1, 0x81)  # 4-entry LCT
            + lct + bytes([mcs])
            + bytes([len(mm._gif_lzw_encode(mcs, bytes([1, 1])))])
            + mm._gif_lzw_encode(mcs, bytes([1, 1])) + b"\x00"
            + frame([3, 3])
            + b"\x3b")
    _w2, _h2, frames2 = mm._gif_decode(gif2)
    f1 = np.frombuffer(frames2[0], np.uint8).reshape(1, 2, 3)
    assert f1[0, 0].tolist() == [10, 20, 30]  # local palette applied
    # after disposal the canvas under frame 2's transparent-free pixels
    # was restored to the GLOBAL bg (index 2 of the GCT = blue), and
    # frame 2 paints padded-black index 3 over it — just assert decode
    # survived with two frames and no exception
    assert len(frames2) == 2

    # max_frames early exit matches the full decode's first frame
    big = mm._gif_encode(
        5, 4,
        [bytes([i * 20]) * 60 for i in range(8)],
    )
    w, h, first = mm._gif_decode(big, max_frames=1)
    _, _, full = mm._gif_decode(big)
    assert first == full[:1] and len(full) == 8
