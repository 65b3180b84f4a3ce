"""Quality tests for the approximate operators (no SQL oracle):
LSH ANN recall vs brute force; MinHash-LSH recall vs exact Jaccard;
multimodal decode plumbing."""

from __future__ import annotations

from pyspark.sql import functions as F

from osarchiver_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_pairs
from osarchiver_spark.operators.multimodal import attach_binary, extract_metadata, sample_frames
from osarchiver_spark.operators.similarity import brute_force_topk, lsh_topk
from osarchiver_spark.sources.parquet import load_table


def test_lsh_topk_recall(spark, sf_small):
    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    exact = brute_force_topk(emb, queries, "vec_id", "embedding", k=5)
    approx = lsh_topk(emb, queries, "vec_id", "embedding", dim=64, k=5)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    # 8 hyperplanes + multiprobe over 64-dim random embeddings: recall
    # is approximate by design; assert it's meaningfully better than
    # random (5/499 ≈ 1%).
    assert recall >= 0.3, f"LSH recall too low: {recall}"


def test_minhash_lsh_finds_planted_neardups(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    lsh = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5)
    e = {(r.doc_a, r.doc_b) for r in exact.collect()}
    l = {(r.doc_a, r.doc_b) for r in lsh.collect()}
    assert e, "fixture should contain planted near-dups"
    # LSH must be a subset (same verify step) with high recall
    assert l <= e
    assert len(l) / len(e) >= 0.9, f"MinHash-LSH recall {len(l)}/{len(e)}"


def test_minhash_lsh_xxhash64_production_mode(spark, sf_small):
    # the production hash swap must keep the operator shape and
    # near-dup recall; only candidate banding differs (verify stage
    # is exact Jaccard in both modes, so xxhash pairs are also a
    # subset of the exact pairs)
    docs = load_table(spark, sf_small, "documents")
    exact = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.5)
    xx = minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5, hash_fn="xxhash64")
    e = {(r.doc_a, r.doc_b) for r in exact.collect()}
    x = {(r.doc_a, r.doc_b) for r in xx.collect()}
    assert x <= e
    assert len(x) / len(e) >= 0.9, f"xxhash64 MinHash-LSH recall {len(x)}/{len(e)}"


def test_simhash_multiprobe_recall_is_total(spark, sf_small):
    # block-pigeonhole candidates guarantee recall for hamming <= 2:
    # the multiprobe result must EQUAL exact all-pairs filtering, and
    # strictly contain the hamming-0 blocking as hamming=0 rows
    from osarchiver_spark.operators.dedup import simhash_candidates, simhash_multiprobe_pairs

    docs = load_table(spark, sf_small, "documents")
    multi = simhash_multiprobe_pairs(docs, "doc_id", "text", max_hamming=2)
    got = {(r.doc_a, r.doc_b): r.hamming for r in multi.collect()}

    # exact reference: compute sketches once, compare all pairs driver-side
    from osarchiver_spark.functions.text import simhash16_from_hashed, token_hashes

    sk_rows = docs.select(
        F.col("doc_id"), simhash16_from_hashed(token_hashes(F.col("text"))).alias("s")
    ).collect()
    vals = [(r.doc_id, r.s) for r in sk_rows]
    expect = {}
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            a, b = vals[i], vals[j]
            lo, hi = min(a[0], b[0]), max(a[0], b[0])
            h = bin(a[1] ^ b[1]).count("1")
            if h <= 2:
                expect[(lo, hi)] = h
    assert got == expect
    zero = {(r.doc_a, r.doc_b) for r in simhash_candidates(docs, "doc_id", "text").collect()}
    assert zero <= set(got)


def test_simhash64_production_recall_is_total(spark, sf_small):
    # the production 64-bit multiprobe (bench override; the 16-bit
    # registered form goes quadratic past ~1e5 docs) must equal exact
    # all-pairs hamming<=3 filtering over sketches computed by an
    # INDEPENDENT pure-Python md5 implementation — pinning tokenize,
    # per-token mask packing, vote rule, bit packing, and the
    # block-pigeonhole join in one go
    import hashlib

    from osarchiver_spark.operators.dedup import simhash64_multiprobe_pairs

    def py_sketch(text: str) -> int:
        votes = [0] * 64
        for t in text.split():
            m = int(hashlib.md5(t.encode("utf-8")).hexdigest()[:16], 16)
            for p in range(64):
                votes[p] += 1 if (m >> p) & 1 else -1
        return sum(1 << p for p in range(64) if votes[p] > 0)

    docs = load_table(spark, sf_small, "documents")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash64_multiprobe_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    vals = [(r.doc_id, py_sketch(r.text or "")) for r in docs.select("doc_id", "text").collect()]
    expect = {}
    for i in range(len(vals)):
        for j in range(i + 1, len(vals)):
            a, b = vals[i], vals[j]
            lo, hi = min(a[0], b[0]), max(a[0], b[0])
            h = bin(a[1] ^ b[1]).count("1")
            if h <= 3:
                expect[(lo, hi)] = h
    assert got == expect
    assert expect, "fixture should contain 64-bit near-dup pairs"


def test_embedding_auto_recall(spark, sf_small):
    # the production auto-parameterized embedding LSH (bench
    # override) must recover >= 95% of the exact brute-force pairs
    # at its production threshold, and report identical cosines on
    # the pairs it finds (same rounding, same verify)
    from osarchiver_spark.operators.dedup import (
        embedding_lsh_neardup_auto,
        embedding_neardup_pairs,
    )

    base = load_table(spark, sf_small, "embeddings")
    # plant 0.9+ pairs the way the scale synthesizer does: a perturbed
    # twin of every vector (last coordinate +0.001 -> cosine ~1.0)
    twin = base.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, F.size("embedding") - 1),
            F.array(F.element_at("embedding", -1) + F.lit(0.001)),
        ).alias("embedding"),
    )
    emb = base.select("vec_id", "embedding").unionByName(twin)
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_pairs(emb, "vec_id", "embedding", threshold=0.9).collect()
    }
    auto = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_lsh_neardup_auto(emb, "vec_id", "embedding", threshold=0.9).collect()
    }
    assert exact, "fixture should contain planted 0.9+ cosine pairs"
    assert set(auto) <= set(exact)
    assert len(auto) / len(exact) >= 0.95, f"auto recall {len(auto)}/{len(exact)}"
    for k, v in auto.items():
        assert v == exact[k]


def test_multimodal_metadata_matches_python(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").limit(20)
    out = extract_metadata(attach_binary(docs, "doc_id", "text")).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in out:
        raw = texts[r.doc_id].encode("utf-8")
        magic = int.from_bytes(raw[:4].ljust(4, b"\0"), "big")
        assert r.byte_len == len(raw)
        assert r.magic_int == magic
        assert r.fake_width == 64 + magic % 960
        assert r.fake_height == 64 + (magic // 256) % 960


def test_codec_path_matches_builtin_metadata(spark, sf_small):
    # the mapInPandas codec fence must derive the same metadata as
    # the JVM built-in path (deterministic-fake decode)
    from osarchiver_spark.operators.multimodal import extract_metadata_codec

    docs = load_table(spark, sf_small, "documents").limit(50)
    payload = attach_binary(docs, "doc_id", "text")
    jvm = {tuple(r) for r in extract_metadata(payload).collect()}
    codec = {tuple(r) for r in extract_metadata_codec(payload).collect()}
    assert jvm == codec


def test_frame_sample_shape(spark, sf_small):
    docs = load_table(spark, sf_small, "documents").limit(10)
    out = sample_frames(attach_binary(docs, "doc_id", "text"), stride=16).collect()
    texts = {r.doc_id: r.text for r in docs.collect()}
    for r in out:
        raw = texts[r.doc_id].encode("utf-8")
        assert r.frames == [int(b) for b in raw[::16]]
        assert r.n_frames == len(r.frames)


def test_embedding_lsh_hot_bucket_split(spark):
    # A degenerate corpus (many IDENTICAL vectors) concentrates an LSH
    # bucket: the grouped applyInPandas path would hand one task an
    # O(n^2) gram matrix, so buckets wider than max_bucket must route
    # through the equi-join pair path instead — same pairs, same
    # rounding, full recall.
    from osarchiver_spark.operators.dedup import embedding_lsh_neardup_pairs

    dim = 16

    def basis(i, scale=1.0):
        return [scale if j == i else 0.0 for j in range(dim)]

    rows = []
    vid = 0
    for _ in range(60):  # hot cluster: identical vectors, one bucket/table
        rows.append((vid, basis(0)))
        vid += 1
    for _ in range(40):  # second hot cluster, orthogonal to the first
        rows.append((vid, basis(1)))
        vid += 1
    near_a = basis(2)
    near_b = [0.0] * dim
    near_b[2], near_b[3] = 1.0, 0.1  # cosine(near_a, near_b) ~ 0.995
    rows.append((vid, near_a))
    rows.append((vid + 1, near_b))
    emb = spark.createDataFrame(rows, "vid long, embedding array<double>")

    expect = {(a, b) for a in range(60) for b in range(a + 1, 60)}
    expect |= {(a, b) for a in range(60, 100) for b in range(a + 1, 100)}
    expect.add((100, 101))

    split = embedding_lsh_neardup_pairs(
        emb, "vid", "embedding", threshold=0.45, n_tables=8, dim=dim, max_bucket=16
    )
    got = {(r.vec_a, r.vec_b): r.cosine for r in split.collect()}
    assert set(got) == expect
    assert got[(0, 1)] == 1.0 and got[(100, 101)] >= 0.45

    # grouped-only route (max_bucket above any width) agrees exactly
    whole = embedding_lsh_neardup_pairs(
        emb, "vid", "embedding", threshold=0.45, n_tables=8, dim=dim, max_bucket=10_000
    )
    assert {(r.vec_a, r.vec_b): r.cosine for r in whole.collect()} == got


def test_ann_operators_preserve_string_ids(spark, sf_small):
    # string/uuid doc ids must ride through the Arrow paths unchanged
    # (a silent cast-to-long would null them and return garbage)
    from osarchiver_spark.operators.dedup import embedding_lsh_neardup_pairs
    from osarchiver_spark.operators.ivf import ivf_topk

    emb = load_table(spark, sf_small, "embeddings").withColumn(
        "sid", F.concat(F.lit("vec-"), F.format_string("%05d", "vec_id"))
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    exact_num = brute_force_topk(emb, queries, "vec_id", "embedding", k=3)
    exact_str = brute_force_topk(emb, queries, "sid", "embedding", k=3)
    as_str = {
        (f"vec-{r.query_id:05d}", r.rank, f"vec-{r.neighbor_id:05d}", r.cosine)
        for r in exact_num.collect()
    }
    got = {(r.query_id, r.rank, r.neighbor_id, r.cosine) for r in exact_str.collect()}
    assert got == as_str  # zero-padded ids keep the numeric tie-break order

    lsh = lsh_topk(emb, queries, "sid", "embedding", dim=64, k=3).collect()
    assert lsh and all(r.query_id.startswith("vec-") and r.neighbor_id.startswith("vec-") for r in lsh)

    ivf = ivf_topk(emb, queries, "sid", "embedding", k=3, n_clusters=8, nprobe=8).collect()
    assert ivf and all(r.query_id.startswith("vec-") for r in ivf)

    pairs = embedding_lsh_neardup_pairs(emb, "sid", "embedding", threshold=0.45).collect()
    num_pairs = embedding_lsh_neardup_pairs(emb, "vec_id", "embedding", threshold=0.45).collect()
    got_pairs = {(r.vec_a, r.vec_b, r.cosine) for r in pairs}
    want_pairs = {
        (f"vec-{r.vec_a:05d}", f"vec-{r.vec_b:05d}", r.cosine) for r in num_pairs
    }
    assert got_pairs == want_pairs


def test_minhash_xxhash64_oracle_contract_at_adjudication_scale(spark, sf_medium):
    """The registered dedup_minhash_xxhash64 query borrows the md5
    twin's DuckDB oracle, which is only sound if the two modes emit
    the IDENTICAL pair set at the driver's adjudication scale
    (sf0.01) — pin equality, not just recall."""
    docs = load_table(spark, sf_medium, "documents")
    md5_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    xx_pairs = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.5, hash_fn="xxhash64"
        ).collect()
    }
    assert xx_pairs == md5_pairs


def test_embedding_incremental_matches_brute_force(spark, sf_small):
    """The incremental probe (new vs corpus) must find exactly the
    cross pairs brute force finds at the swept full-recall LSH
    parameters — and nothing corpus-internal."""
    from osarchiver_spark.operators.dedup import embedding_lsh_incremental
    from osarchiver_spark.functions.vectors import as_double, cosine

    emb = load_table(spark, sf_small, "embeddings")
    new = emb.filter(F.col("vec_id") % 10 == 3)
    corpus = emb.filter(F.col("vec_id") % 10 != 3)
    got = {
        (r["new_id"], r["corpus_id"]): r["cosine"]
        for r in embedding_lsh_incremental(
            corpus, new, "vec_id", "embedding", threshold=0.45
        ).collect()
    }
    a = new.select(F.col("vec_id").alias("new_id"), as_double(F.col("embedding")).alias("va"))
    b = corpus.select(
        F.col("vec_id").alias("corpus_id"), as_double(F.col("embedding")).alias("vb")
    )
    exact = {
        (r["new_id"], r["corpus_id"]): r["c"]
        for r in a.crossJoin(b)
        .select("new_id", "corpus_id", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("c"))
        .filter(F.col("c") >= 0.45)
        .collect()
    }
    assert got == exact
    assert all(n % 10 == 3 and c % 10 != 3 for n, c in got)


def test_resize_fits_box_and_preserves_aspect(spark, sf_small):
    from osarchiver_spark.operators.multimodal import attach_binary, resize_thumbs

    docs = load_table(spark, sf_small, "documents")
    out = resize_thumbs(attach_binary(docs, "doc_id", "text"), max_dim=64).collect()
    assert out
    for r in out:
        assert 1 <= r["dst_w"] <= 64 and 1 <= r["dst_h"] <= 64
        assert max(r["dst_w"], r["dst_h"]) == 64  # longest side saturates the box
        # aspect preserved within the 1px floor granularity (the
        # error bound scales with the ratio over the short side)
        src_ar = r["src_w"] / r["src_h"]
        dst_ar = r["dst_w"] / r["dst_h"]
        assert abs(src_ar - dst_ar) <= src_ar / min(r["dst_w"], r["dst_h"])
        assert len(r["thumb"]) == min(r["dst_w"], len(r["thumb"]) or r["dst_w"])


def test_audio_features_window_accounting(spark, sf_small):
    from osarchiver_spark.operators.multimodal import (
        AUDIO_WINDOW,
        attach_binary,
        audio_features,
    )
    import math

    docs = load_table(spark, sf_small, "documents")
    lens = {r["doc_id"]: len(r["text"].encode()) for r in docs.collect()}
    out = audio_features(attach_binary(docs, "doc_id", "text")).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc_id, rows in by_doc.items():
        assert len(rows) == math.ceil(lens[doc_id] / AUDIO_WINDOW)
        assert sum(r["n_samples"] for r in rows) == lens[doc_id]
        assert all(r["rms"] >= 0 for r in rows)


def test_incremental_probe_equals_batch_restriction(spark):
    """minhash_lsh_incremental(corpus, new) must equal the full-batch
    pair set over corpus ∪ new restricted to cross pairs (one side per
    batch): signatures and band keys are per-document, so the
    asymmetric probe loses no candidates relative to the self-join —
    the invariant that makes batch-by-batch dedup equivalent to
    re-running the full pass."""
    from osarchiver_spark.operators.dedup import (
        minhash_lsh_incremental,
        minhash_lsh_pairs,
    )

    base = "quick brown fox jumps over the lazy dog near the river bank today"
    texts = {}
    for i in range(8):  # corpus: ids 0..7, two planted near-dup seeds
        texts[i] = base + f" corpus variant {i % 2}"
    for i in range(100, 104):  # new batch: near-dups of the seeds + one novel
        texts[i] = base + f" corpus variant {i % 2}"
    texts[104] = "completely different content with no overlap whatsoever at all"
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    corpus = docs.filter(F.col("doc_id") < 100)
    new = docs.filter(F.col("doc_id") >= 100)

    full = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(docs, "doc_id", "text").collect()
    }
    cross = {
        (a, b): j for (a, b), j in full.items() if (a < 100) != (b < 100)
    }
    inc = {
        (min(r.corpus_id, r.new_id), max(r.corpus_id, r.new_id)): r.jaccard
        for r in minhash_lsh_incremental(corpus, new, "doc_id", "text").collect()
    }
    assert inc == cross
    assert inc, "fixture must plant at least one cross near-dup pair"


def test_indexed_probe_equals_direct_probe_both_branches(spark, tmp_path, monkeypatch):
    """minhash_lsh_incremental_indexed must return EXACTLY what the
    recompute-everything probe returns, through BOTH probe branches:
    the band_key IN (...) pushdown path (few keys) and the plain
    broadcast-join fallback (keys above PROBE_PUSHDOWN_MAX_KEYS —
    never reached at fixture scale, so it needs an explicit test)."""
    import osarchiver_spark.operators.dedup as dd

    base = "quick brown fox jumps over the lazy dog near the river bank today"
    texts = {}
    for i in range(8):
        texts[i] = base + f" corpus variant {i % 2}"
    for i in range(100, 104):
        texts[i] = base + f" corpus variant {i % 2}"
    texts[104] = "completely different content with no overlap whatsoever at all"
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )
    corpus = docs.filter(F.col("doc_id") < 100)
    new = docs.filter(F.col("doc_id") >= 100)

    idx_dir = str(tmp_path / "idx")
    dd.minhash_lsh_index(corpus, "doc_id", "text", num_files=4).write.mode(
        "overwrite"
    ).parquet(idx_dir)
    index = spark.read.parquet(idx_dir)

    want = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in dd.minhash_lsh_incremental(corpus, new, "doc_id", "text").collect()
    }
    assert want, "fixture must plant cross near-dup pairs"

    got_pushdown = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in dd.minhash_lsh_incremental_indexed(
            index, corpus, new, "doc_id", "text"
        ).collect()
    }
    assert got_pushdown == want

    # force the fallback: every batch exceeds the pushdown key cap
    monkeypatch.setattr(dd, "PROBE_PUSHDOWN_MAX_KEYS", 0)
    got_fallback = {
        (r.new_id, r.corpus_id): r.jaccard
        for r in dd.minhash_lsh_incremental_indexed(
            index, corpus, new, "doc_id", "text"
        ).collect()
    }
    assert got_fallback == want


def test_embedding_incremental_oversized_batch_fails_loudly(spark):
    """The fused probe collects+broadcasts the NEW side; above the
    configured bound it must raise a clear error, not OOM the driver
    (the 100 TB failure mode is a TB-scale crawl drop fed as one
    batch). The limit(max+1) collect means the check itself never
    pulls more than bound+1 rows."""
    import pytest

    from osarchiver_spark.operators.dedup import embedding_lsh_incremental

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0])], "vid long, v array<double>"
    )
    new = spark.range(10).select(
        (F.col("id") + 100).alias("vid"),
        F.array(*[F.rand(7) for _ in range(4)]).alias("v"),
    )
    with pytest.raises(ValueError, match="max_batch_rows"):
        embedding_lsh_incremental(
            corpus, new, "vid", "v", dim=4, max_batch_rows=5
        )
    # at the bound (not above) it still runs
    embedding_lsh_incremental(
        corpus, new, "vid", "v", dim=4, max_batch_rows=10
    ).collect()


def test_brute_force_topk_oversized_query_set_fails_loudly(spark):
    import pytest

    from osarchiver_spark.operators.similarity import brute_force_topk

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "neighbor_id long, cv array<double>"
    ).withColumnRenamed("neighbor_id", "vid").withColumnRenamed("cv", "v")
    queries = spark.range(8).select(
        F.col("id").alias("vid"),
        F.array(F.lit(1.0), F.lit(0.0)).alias("v"),
    )
    with pytest.raises(ValueError, match="max_query_rows"):
        brute_force_topk(corpus, queries, "vid", "v", k=1, max_query_rows=3)


def test_staged_store_build_equals_sequential_append(spark, tmp_path):
    """_staged_store_build (r12: concurrent staged drop write +
    file-move publish) must land a store row-identical to the former
    sequential overwrite+append — including when the drop batch is
    empty or introduces cid partitions the standing write did not."""
    from osarchiver_spark.queries.similarity import _staged_store_build

    def mk(rows):
        return spark.createDataFrame(
            rows, "neighbor_id long, v array<double>, cid int"
        )

    standing = mk([(i, [float(i), 0.0], i % 3) for i in range(30)])
    # drop hits cid 0..3: cid=3 is NEW relative to the standing write
    drop = mk([(100 + i, [0.0, float(i)], i % 4) for i in range(12)])

    seq_dir = str(tmp_path / "seq")
    standing.write.mode("overwrite").partitionBy("cid").parquet(seq_dir)
    drop.write.mode("append").partitionBy("cid").parquet(seq_dir)

    staged_dir = str(tmp_path / "staged")
    _staged_store_build(standing, drop, staged_dir)

    schema = "neighbor_id bigint, v array<double>, cid int"
    seq = sorted(
        (r.neighbor_id, tuple(r.v), r.cid)
        for r in spark.read.schema(schema).parquet(seq_dir).collect()
    )
    stg = sorted(
        (r.neighbor_id, tuple(r.v), r.cid)
        for r in spark.read.schema(schema).parquet(staged_dir).collect()
    )
    assert stg == seq and len(stg) == 42
    import os

    assert not os.path.exists(staged_dir + "__stage")  # publish cleans up

    # empty drop: publish is a no-op, store equals the standing write
    empty_dir = str(tmp_path / "empty")
    _staged_store_build(standing, drop.limit(0), empty_dir)
    got = sorted(
        (r.neighbor_id, tuple(r.v), r.cid)
        for r in spark.read.schema(schema).parquet(empty_dir).collect()
    )
    want = sorted((i, (float(i), 0.0), i % 3) for i in range(30))
    assert got == want


def test_app_scratch_dir_is_private_and_reaped_with_its_siblings(spark, monkeypatch):
    """Scratch dirs are named per (fixture, Spark app, parts); the exit
    reaper, registered once per dir, also removes its ``__`` siblings
    (staging roots, epoch markers, stream checkpoints)."""
    import atexit
    import os
    import shutil

    from osarchiver_spark.queries.dedup import _app_scratch_dir

    reapers = []
    monkeypatch.setattr(atexit, "register", reapers.append)
    path = _app_scratch_dir(spark, "/fixture/reap-test", "reap_test_", 7)
    assert _app_scratch_dir(spark, "/fixture/reap-test", "reap_test_", 7) == path
    assert len(reapers) == 1
    name = os.path.basename(path)
    assert name.startswith("reap_test_")
    assert name.endswith(f"_{spark.sparkContext.applicationId}_7")
    siblings = [path + "__stage", path + "__checkpoint"]
    keep = path + "_other"  # shares the prefix, is not a sibling
    try:
        for d in (path, *siblings, keep):
            os.makedirs(os.path.join(d, "part"), exist_ok=True)
        reapers[0]()
        assert not any(os.path.exists(d) for d in (path, *siblings))
        assert os.path.exists(keep)
    finally:
        for d in (path, *siblings, keep):
            shutil.rmtree(d, ignore_errors=True)
