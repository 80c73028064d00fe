"""Property-based tests (SURVEY.md §5.2 item 4) — hypothesis generates
small adversarial datasets; Spark must agree with an independent Python
model. Examples are kept few: each example is a Spark round-trip.
"""

from __future__ import annotations

import itertools
from collections import Counter

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_items = st.lists(
    st.tuples(
        st.sampled_from(["pens", "binder", "laptop", "notepad"]),
        st.integers(1, 9),                      # quantity
        st.integers(1, 99999),                  # price in cents
    ),
    min_size=0, max_size=5,
)
_sales = st.lists(_items, min_size=1, max_size=6)


@settings(**_SETTINGS)
@given(_sales)
def test_explode_regroup_roundtrip(spark, sales):
    """G4 invariant: explode(items) → groupBy(sale).sum == per-row array
    fold — document totals survive the unwind/regroup round trip, in
    decimal (exact), including empty item arrays (inner-explode drops
    them; the fold must yield 0 for them, so compare only non-empty)."""
    rows = [
        (i, [{"name": n, "quantity": q, "price": c} for (n, q, c) in its])
        for i, its in enumerate(sales)
    ]
    df = spark.createDataFrame(
        rows,
        "sale_id int, items array<struct<name:string,quantity:int,price:int>>",
    )
    exploded = (
        df.select("sale_id", F.explode("items").alias("it"))
        .groupBy("sale_id")
        .agg(F.sum(F.expr("it.quantity * it.price")).alias("total"))
    )
    got = {r.sale_id: r.total for r in exploded.collect()}
    want = {
        i: sum(q * c for (_, q, c) in its)
        for i, its in enumerate(sales) if its
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from("ab"), st.integers(0, 30), st.integers(0, 100)),
        min_size=1, max_size=30, unique_by=lambda t: (t[0], t[1]),
    )
)
def test_lag_never_leaks_across_partitions(spark, rows):
    """W1 invariant: lag over Window.partitionBy(product) must equal a
    per-product pandas shift — values never leak between products."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(rows, "product string, day int, qty int")
    w = Window.partitionBy("product").orderBy("day")
    got = (
        df.withColumn("lag_1", F.lag("qty").over(w))
        .toPandas().sort_values(["product", "day"]).reset_index(drop=True)
    )
    pdf = pd.DataFrame(rows, columns=["product", "day", "qty"])
    pdf = pdf.sort_values(["product", "day"]).reset_index(drop=True)
    want = pdf.groupby("product")["qty"].shift(1)
    assert [
        None if pd.isna(x) else int(x) for x in want
    ] == [None if pd.isna(x) else int(x) for x in got["lag_1"]]


@settings(**_SETTINGS)
@given(_sales)
def test_pair_mining_matches_itertools(spark, sales):
    """A8 invariant: the row-local generator pair expansion equals
    itertools.combinations over the sorted, NON-deduplicated name list
    (multiplicity + self-pairs, the reference's exact semantics)."""
    from project2_bigdata_spark.operators.pairs import pairs_of

    rows = [(i, sorted(n for (n, _, _) in its)) for i, its in enumerate(sales)]
    df = spark.createDataFrame(rows, "sale_id int, item_names array<string>")
    got = Counter((r.product_1, r.product_2) for r in pairs_of(df).collect())
    want = Counter(
        pair for _, names in rows for pair in itertools.combinations(names, 2)
    )
    assert got == want


@settings(**_SETTINGS)
@given(st.lists(
    st.lists(st.sampled_from(["a", "b", "c", "d", "e", "f"]),
             max_size=6, unique=True),
    min_size=1, max_size=6,
))
def test_triple_mining_matches_itertools(spark, baskets):
    """The row-local triple expansion (one generator per level) equals
    itertools.combinations(…, 3) over each basket's distinct, sorted
    names — including baskets too small to hold a triple."""
    from project2_bigdata_spark.operators.pairs import triples_of

    rows = [(i, sorted(b)) for i, b in enumerate(baskets)]
    df = spark.createDataFrame(rows, "sale_id int, names array<string>")
    got = Counter((r.a, r.b, r.c) for r in triples_of(df).collect())
    want = Counter(
        t for _, names in rows for t in itertools.combinations(names, 3)
    )
    assert got == want


_words = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=1, max_size=120,
)


@settings(**_SETTINGS)
@given(st.lists(_words, min_size=1, max_size=4))
def test_chunking_covers_exactly(spark, docs):
    """Chunking invariant: stride-40 windows of size 50 — every word
    position is covered, consecutive chunks overlap by exactly 10 (when
    long enough), and re-assembling the non-overlapping prefixes
    reproduces the document."""
    from project2_bigdata_spark.operators.corpus import CHUNK_SIZE, CHUNK_STEP

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    chunks = F.expr(
        f"transform(sequence(1, greatest(size(split(text, ' ')), 1), {CHUNK_STEP}), "
        f"i -> slice(split(text, ' '), i, {CHUNK_SIZE}))"
    )
    out = df.select("doc_id", F.posexplode(chunks).alias("idx", "chunk")).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.idx, r.chunk))
    for doc_id, ws in enumerate(docs):
        got = [c for _, c in sorted(by_doc[doc_id])]
        rebuilt = []
        for j, c in enumerate(got):
            rebuilt.extend(c if j == len(got) - 1 else c[:CHUNK_STEP])
        # trailing chunks may re-cover already-seen words; coverage of the
        # full word list is the invariant
        assert rebuilt[: len(ws)] == ws
        for j in range(len(got) - 1):
            assert got[j][CHUNK_STEP:] == got[j + 1][: CHUNK_SIZE - CHUNK_STEP][: len(got[j][CHUNK_STEP:])]


@settings(**_SETTINGS)
@given(_words, _words)
def test_winnowing_shared_run_guarantee(spark, a_words, b_words):
    """Winnowing guarantee (k=3, w=4): any two docs sharing a run of
    >= w+k-1 = 6 words share at least one fingerprint."""
    from project2_bigdata_spark.operators.corpus import winnowing_fingerprints

    shared = ["shared1", "shared2", "shared3", "shared4", "shared5", "shared6"]
    rows = [(0, " ".join(a_words + shared)), (1, " ".join(shared + b_words))]
    import project2_bigdata_spark.operators.corpus as corpus_mod
    from unittest import mock

    rows_df = spark.createDataFrame(rows, "doc_id long, text string")
    with mock.patch.object(corpus_mod, "table_parallel", lambda s, sf, t: rows_df):
        out = winnowing_fingerprints(spark, "unused").collect()
    fps = {}
    for r in out:
        fps.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert fps[0] & fps[1], "docs sharing a 6-word run must share a fingerprint"


_vectors = st.lists(
    st.lists(
        st.floats(-100.0, 100.0, allow_nan=False, allow_infinity=False, width=32),
        min_size=1, max_size=8,
    ),
    min_size=1, max_size=4,
)


@settings(**_SETTINGS)
@given(_vectors)
def test_int8_quantization_invariants(spark, vecs):
    """embedding_quantize invariants on adversarial vectors (zeros,
    near-zero scales, negatives): q within [-127, 127], per-element
    reconstruction error <= scale/2 (+ float slack), zero vectors map
    to zero checksum and zero error."""
    import pandas as pd

    pdf = pd.DataFrame({
        "vec_id": range(len(vecs)),
        "label": [0] * len(vecs),
        "embedding": vecs,
    })
    df = spark.createDataFrame(pdf)
    df.createOrReplaceTempView("tmp_embeddings")
    out = spark.sql("""
        WITH e AS (
          SELECT vec_id, transform(embedding, v -> cast(v as double)) AS ed
          FROM tmp_embeddings
        ), s AS (
          SELECT vec_id, ed,
                 array_max(transform(ed, v -> abs(v))) AS amax
          FROM e
        ), t AS (SELECT *, amax / 127.0 AS scale FROM s)
        SELECT vec_id, amax, scale,
               CASE WHEN amax > 0
                 THEN transform(ed, v -> cast(floor(v / scale + 0.5) as int))
                 ELSE transform(ed, v -> 0) END AS qv,
               ed
        FROM t
    """).collect()
    for r in out:
        assert all(-127 <= q <= 127 for q in r.qv), (r.qv, r.amax)
        if r.amax == 0:
            assert all(q == 0 for q in r.qv)
            continue
        for v, q in zip(r.ed, r.qv):
            assert abs(v - q * r.scale) <= r.scale / 2 + 1e-9


_pii_lines = st.lists(
    st.sampled_from([
        "plain words only here",
        "reach me at first.last+tag@sub.example.co or not",
        "two mails a@b.io c.d@e-f.org in one line",
        "server 192.168.0.1 and 10.0.255.254 up",
        "call 555-123-4567 now",
        "ip-like 999.999.999.999 still matches shape",
        "not-an-ip 1.2.3 and half-phone 555-123",
        "email@edge.comcall 555-000-1111",
    ]),
    min_size=1, max_size=6,
)


@settings(**_SETTINGS)
@given(_pii_lines)
def test_pii_regex_model_parity(spark, lines):
    """The PII counting regexes agree with an independent Python re
    model on adversarial lines (multiple hits, boundary abutting,
    shape-only lookalikes)."""
    import re

    import pandas as pd

    from project2_bigdata_spark.plans.curation import PAT_EMAIL, PAT_IPV4, PAT_PHONE

    pdf = pd.DataFrame({"doc_id": range(len(lines)), "t": lines})
    df = spark.createDataFrame(pdf)
    got = {
        r.doc_id: (r.e, r.i, r.p)
        for r in df.select(
            "doc_id",
            F.regexp_count("t", F.lit(PAT_EMAIL)).alias("e"),
            F.regexp_count("t", F.lit(PAT_IPV4)).alias("i"),
            F.regexp_count("t", F.lit(PAT_PHONE)).alias("p"),
        ).collect()
    }
    for i, line in enumerate(lines):
        expect = (
            len(re.findall(PAT_EMAIL, line)),
            len(re.findall(PAT_IPV4, line)),
            len(re.findall(PAT_PHONE, line)),
        )
        assert got[i] == expect, (line, got[i], expect)


@settings(**_SETTINGS)
@given(st.lists(st.integers(0, 10**9), min_size=1, max_size=30, unique=True))
def test_hash_split_is_stable_and_total(spark, ids):
    """hash_split semantics: every id gets exactly one split, assignment
    is a pure function of the id (stable under re-partitioning), and
    matches the md5-byte model."""
    import hashlib

    import pandas as pd

    pdf = pd.DataFrame({"doc_id": ids})
    for parts in (1, 4):
        df = spark.createDataFrame(pdf).repartition(parts)
        b = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2)
        split = F.when(b < "f0", "train").when(b < "f8", "val").otherwise("test")
        got = {r.doc_id: r.s for r in df.select("doc_id", split.alias("s")).collect()}
        for i in ids:
            h = hashlib.md5(f"split:{i}".encode()).hexdigest()[:2]
            expect = "train" if h < "f0" else ("val" if h < "f8" else "test")
            assert got[i] == expect


_edges = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)),
    min_size=0, max_size=12,
)


@settings(**_SETTINGS)
@given(_edges)
@pytest.mark.slow
def test_connected_components_matches_union_find(spark, edges):
    """CC fixpoint == an independent union-find model on random small
    graphs (self-loops and duplicate edges included by generation)."""
    from project2_bigdata_spark.operators.graph import connected_components

    vertices = sorted({v for e in edges for v in e} | set(range(3)))
    parent = {v: v for v in vertices}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v: min(u for u in vertices if find(u) == find(v)) for v in vertices}

    vdf = spark.createDataFrame([(v,) for v in vertices], "doc_id long")
    edf = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(0, 0)], "src long, dst long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(vdf, edf).collect()
    }
    assert got == expected


def test_triangle_count_brute_force(spark, tmp_path):
    """triangle_count on a constructed basket table == hand enumeration:
    baskets {A,B,C},{A,B},{B,C,D},{A,C} give edges AB,AC,BC,BD,CD and
    triangles ABC and BCD -> A:1, B:2, C:2, D:1."""
    from project2_bigdata_spark.plans import REGISTRY

    parts = [(1, "A"), (2, "B"), (3, "C"), (4, "D")]
    baskets = [[1, 2, 3], [1, 2], [2, 3, 4], [1, 3]]
    li = [(ok, pk) for ok, items in enumerate(baskets) for pk in items]
    spark.createDataFrame(parts, "p_partkey long, p_name string").write.parquet(
        str(tmp_path / "part.parquet")
    )
    spark.createDataFrame(li, "l_orderkey long, l_partkey long").write.parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        r.product: r.n_triangles
        for r in REGISTRY["triangle_count"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {"A": 1, "B": 2, "C": 2, "D": 1}


def test_multitouch_credits_sum_to_one(spark, sf_dir):
    """Decay credits per purchase sum to 1 modulo terminal 6dp rounding
    (the decimal-fold normalizer guarantees the ratio base is exact)."""
    from project2_bigdata_spark.plans import REGISTRY

    rows = REGISTRY["multitouch_attribution"].fn(spark, sf_dir).collect()
    by_purchase: dict[int, list] = {}
    for r in rows:
        by_purchase.setdefault(r.purchase_id, []).append(r)
    assert by_purchase, "expected at least one attributed purchase"
    for pid, rs in by_purchase.items():
        n = rs[0].n_touches
        assert len(rs) == n
        for col in ("credit_linear", "credit_decay"):
            s = sum(getattr(r, col) for r in rs)
            assert abs(s - 1.0) <= n * 1e-6 + 1e-9, (pid, col, s)


def test_kcore_internal_consistency(spark, sf_dir):
    """Peel semantics: d1 is only present for round-1 survivors, and
    in_core holds exactly when d1 >= the degree threshold (recovered
    from the data as the min d1 among in-core nodes <= kk <= ...)."""
    from project2_bigdata_spark.plans import REGISTRY

    rows = REGISTRY["kcore_2round"].fn(spark, sf_dir).collect()
    assert rows
    in_core_d1 = [r.d1 for r in rows if r.in_core]
    out_d1 = [r.d1 for r in rows if not r.in_core and r.d1 is not None]
    assert all(d is not None for d in in_core_d1)
    if in_core_d1 and out_d1:
        # every in-core degree beats every surviving non-core degree
        assert min(in_core_d1) > max(out_d1)
    for r in rows:
        if r.d1 is not None:
            assert r.d1 <= r.d0


@settings(**_SETTINGS)
@given(st.lists(
    st.tuples(st.integers(-10**12, 10**12),     # numerator (any sign)
              st.integers(1, 120)),             # positive month gap
    min_size=1, max_size=40))
def test_floor_division_expression_is_exact_floor(spark, pairs):
    """theil_sen_trend's shared floor-division string — built from
    C-style truncating % so the SAME text runs on Spark and DuckDB —
    must equal mathematical floor(num/den) for every sign of the
    numerator (this is exactly where truncating division and floor
    division disagree)."""
    import duckdb

    expr = "CAST((num - (((num % den) + den) % den)) / den AS BIGINT)"
    pdf = pd.DataFrame(pairs, columns=["num", "den"])
    want = [n // d for n, d in pairs]
    got_spark = [
        r.s for r in spark.createDataFrame(pdf)
        .selectExpr(f"{expr} AS s").collect()
    ]
    assert got_spark == want
    got_duck = [
        r[0] for r in duckdb.connect()
        .execute(f"SELECT {expr} AS s FROM pdf").fetchall()
    ]
    assert got_duck == want


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 200), st.integers(-10**6, 10**6)),
                min_size=2, max_size=25, unique_by=lambda t: t[0]))
def test_theil_sen_pair_generation_matches_itertools(spark, points):
    """The row-local nested-transform pair generator must produce
    exactly the i<j pairs (by month order) that itertools.combinations
    produces from the sorted series — no self-pairs, no reversed
    pairs, no misses — with num/den signs matching b-after-a."""
    pts = sorted(points)
    sdf = spark.createDataFrame(
        [([{"x": x, "q": q} for x, q in pts],)],
        "pts: array<struct<x: bigint, q: bigint>>")
    pairs = (
        sdf.select(F.explode(F.expr(
            "flatten(transform(pts, (a, i) -> "
            "transform(slice(pts, i + 2, size(pts)), b -> struct("
            "(b.q - a.q) * CAST(1000000 AS BIGINT) AS num, "
            "CAST(b.x - a.x AS BIGINT) AS den))))")).alias("p"))
        .select("p.num", "p.den").collect()
    )
    want = sorted(
        ((b[1] - a[1]) * 1_000_000, b[0] - a[0])
        for a, b in itertools.combinations(pts, 2))
    assert sorted((r.num, r.den) for r in pairs) == want
    assert all(d > 0 for _, d in want)  # month order ⇒ positive gaps


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 50), st.integers(1, 3)),
                min_size=0, max_size=18))
@pytest.mark.slow
def test_window_funnel_dp_matches_brute_force(spark, events):
    """window_funnel's linear DP (latest-window-start state) must equal
    the brute-force EXISTS semantics — max depth of a view≤click≤
    purchase chain entirely inside [t_view, t_view + W] — on arbitrary
    sequences, including equal-timestamp ties (the generator's small
    time domain forces collisions constantly)."""
    W = 10

    def brute(evs):
        vs = [t for t, c in evs if c == 1]
        cs = [t for t, c in evs if c == 2]
        ps = [t for t, c in evs if c == 3]
        if any(v <= c <= p <= v + W for v in vs for c in cs for p in ps):
            return 3
        if any(v <= c <= v + W for v in vs for c in cs):
            return 2
        return 1 if vs else 0

    sdf = spark.createDataFrame(
        [(sorted(events),)], "seq: array<struct<t: bigint, c: bigint>>")
    got = sdf.selectExpr(f"""
        aggregate(
          seq,
          struct(CAST(NULL AS BIGINT) AS s1, CAST(NULL AS BIGINT) AS s2,
                 0 AS d),
          (st, e) -> CASE
            WHEN e.c = 1 THEN struct(
              greatest(coalesce(st.s1, e.t), e.t) AS s1, st.s2 AS s2,
              greatest(st.d, 1) AS d)
            WHEN e.c = 2 AND st.s1 IS NOT NULL
                 AND e.t <= st.s1 + {W} THEN struct(
              st.s1 AS s1, greatest(coalesce(st.s2, st.s1), st.s1) AS s2,
              greatest(st.d, 2) AS d)
            WHEN e.c = 3 AND st.s2 IS NOT NULL
                 AND e.t <= st.s2 + {W} THEN struct(
              st.s1 AS s1, st.s2 AS s2, 3 AS d)
            ELSE st END,
          st -> st.d) AS d""").first().d
    assert got == brute(sorted(events)), (events, got)


_cdc_batch = st.lists(
    st.tuples(
        st.integers(0, 6),        # key
        st.integers(0, 99),       # ts (the order column)
        st.integers(0, 999),      # payload
    ),
    min_size=0, max_size=6,
)
_cdc_stream = st.lists(_cdc_batch, min_size=1, max_size=4)


@settings(**_SETTINGS)
@given(_cdc_stream)
@pytest.mark.slow
def test_merge_upsert_latest_wins_equals_recompute(spark, tmp_path_factory, batches):
    """MERGE invariant (r8): applying CDC batches one at a time through
    merge_upsert(resolve='latest_wins') must equal a full recompute of
    latest-per-key over ALL rows — for ANY batch split, including
    out-of-order batches, duplicate keys within a batch, and empty
    batches. The Python model is the independent truth."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert, read_version,
    )

    path = str(tmp_path_factory.mktemp("cdc") / "dim")
    n_written = 0
    for batch in batches:
        if not batch:
            continue  # an empty micro-batch merges nothing
        df = spark.createDataFrame(batch, "k int, ts int, v int")
        merge_upsert(spark, path, df, keys=["k"], order_cols=["ts", "v"],
                     resolve="latest_wins")
        n_written += 1
    if n_written == 0:
        return

    # independent model: latest per key by (ts, v) over the flat stream
    model: dict[int, tuple[int, int]] = {}
    for batch in batches:
        for k, ts, v in batch:
            if k not in model or (ts, v) >= model[k]:
                model[k] = (ts, v)
    got = {r.k: (r.ts, r.v) for r in read_version(spark, path).collect()}
    assert got == model


_cdc_batch_ops = st.lists(
    st.tuples(
        st.integers(0, 6),            # key
        st.integers(0, 99),           # ts (the order column)
        st.integers(0, 999),          # payload (ties broken by it too)
        st.sampled_from(["U", "D"]),  # op: upsert or delete
    ),
    min_size=0, max_size=6,
)
_cdc_stream_ops = st.lists(_cdc_batch_ops, min_size=1, max_size=4)


def _dedupe_triples(batches):
    """A CDC log must be TOTALLY ordered by (key, order_cols): two
    events sharing (k, ts, v) with different ops have no defined
    winner in Spark or any model — dedupe triples, first op wins."""
    seen: set[tuple[int, int, int]] = set()
    return [
        [e for e in batch
         if e[:3] not in seen and not seen.add(e[:3])]
        for batch in batches
    ]


@settings(**_SETTINGS)
@given(_cdc_stream_ops)
@pytest.mark.slow
def test_bucketed_merge_delta_wins_deletes_equals_sequential_model(
        spark, tmp_path_factory, batches):
    """r10 MERGE DELETE invariant (delta_wins — the in-order CDC
    contract): applying op-column batches one at a time through the
    bucketed copy-on-write merge must equal the sequential Python
    model — per batch the newest event per key wins, a winning delete
    removes the key, absent-key deletes no-op — for ANY batch content
    including within-batch races and empty batches."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version,
    )

    batches = _dedupe_triples(batches)
    path = str(tmp_path_factory.mktemp("cdc_cow") / "dim")
    n_written = 0
    model: dict[int, tuple[int, int]] = {}
    for batch in batches:
        if not batch:
            continue
        df = spark.createDataFrame(batch, "k int, ts int, v int, op string")
        merge_upsert_bucketed(
            spark, path, df, keys=["k"], order_cols=["ts", "v"],
            n_buckets=4, op_col="op")
        n_written += 1
        winners: dict[int, tuple[int, int, str]] = {}
        for k, ts, v, op in batch:
            if k not in winners or (ts, v) >= winners[k][:2]:
                winners[k] = (ts, v, op)
        for k, (ts, v, op) in winners.items():
            if op == "D":
                model.pop(k, None)
            else:
                model[k] = (ts, v)
    if n_written == 0:
        return
    got = {r.k: (r.ts, r.v)
           for r in read_version(spark, path).drop("_bucket").collect()}
    assert got == model


@settings(**_SETTINGS)
@given(_cdc_stream_ops)
@pytest.mark.slow
def test_bucketed_tombstone_deletes_order_independent(
        spark, tmp_path_factory, batches):
    """r10 TOMBSTONE invariant (the out-of-order delete story,
    hypothesis-grade): deletes carried as soft-delete ROWS through the
    bucketed latest_wins merge equal the global newest-event-decides
    model under ANY batch order — including the case that breaks hard
    deletes (a delete replayed before an older upsert), which
    hypothesis finds immediately if op_col is used here instead."""
    from pyspark.sql import functions as SF

    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version,
    )

    batches = _dedupe_triples(batches)
    path = str(tmp_path_factory.mktemp("cdc_ts") / "dim")
    n_written = 0
    for batch in batches:
        if not batch:
            continue
        df = (spark.createDataFrame(
            batch, "k int, ts int, v int, op string")
            .withColumn("_deleted", SF.col("op") == "D").drop("op"))
        merge_upsert_bucketed(
            spark, path, df, keys=["k"], order_cols=["ts", "v"],
            n_buckets=4, resolve="latest_wins")
        n_written += 1
    if n_written == 0:
        return

    model: dict[int, tuple[int, int, str]] = {}
    for batch in batches:
        for k, ts, v, op in batch:
            if k not in model or (ts, v) >= model[k][:2]:
                model[k] = (ts, v, op)
    want = {k: (ts, v) for k, (ts, v, op) in model.items() if op != "D"}
    state = read_version(spark, path).filter(~SF.col("_deleted"))
    got = {r.k: (r.ts, r.v) for r in state.collect()}
    assert got == want


@settings(**_SETTINGS)
@given(_cdc_stream_ops)
@pytest.mark.slow
def test_cdf_replication_equals_source_for_any_log(
        spark, tmp_path_factory, batches):
    """r10 REPLICATION invariant, end-to-end: for ANY op-column event
    log applied to a source dimension, a replica bootstrapped from the
    first snapshot plus apply_change_feed over the feed must equal the
    source's final state — inserts, updates, deletes, re-births,
    emptied tables, everything the generator throws."""
    from project2_bigdata_spark.sources.ingest import (
        apply_change_feed, commit_version, merge_upsert,
        read_change_feed, read_version, _versions,
    )

    batches = [b for b in _dedupe_triples(batches) if b]
    if not batches:
        return
    src = str(tmp_path_factory.mktemp("cdf_src") / "dim")
    for batch in batches:
        df = spark.createDataFrame(batch, "k int, ts int, v int, op string")
        merge_upsert(spark, src, df, keys=["k"], order_cols=["ts", "v"],
                     op_col="op")
    latest = _versions(src, committed_only=True)[-1]

    replica = str(tmp_path_factory.mktemp("cdf_rep") / "dim")
    assert commit_version(read_version(spark, src, 1), replica, 1)
    if latest > 1:
        apply_change_feed(
            spark, replica, ["k"],
            read_change_feed(spark, src, ["k"], from_version=1))
    got = sorted(map(tuple, read_version(spark, replica).collect()))
    want = sorted(map(tuple, read_version(spark, src, latest).collect()))
    assert got == want


_sale_ts = st.one_of(
    st.none(),
    st.tuples(st.integers(1990, 2030), st.integers(1, 12),
              st.integers(1, 28), st.integers(0, 23),
              st.integers(0, 59), st.integers(0, 59)).map(
        lambda t: f"{t[0]:04d}-{t[1]:02d}-{t[2]:02d} "
                  f"{t[3]:02d}:{t[4]:02d}:{t[5]:02d}"),
)
_sale_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.text(max_size=12)),   # sale_id: any text
        _sale_ts,                                     # formatted ts | null
        st.one_of(st.none(),                          # 2-dp money | null
                  st.integers(-10**6, 10**6).map(lambda c: c / 100.0)),
        st.one_of(st.none(), st.text(max_size=12)),   # method: any text
    ),
    min_size=0, max_size=8,
)


@settings(**_SETTINGS)
@given(_sale_rows)
@pytest.mark.slow
def test_pyds_write_read_roundtrip_any_rows(spark, tmp_path_factory, rows):
    """r10 connector invariant: write→read through the custom format
    is the identity for ANY sale rows — arbitrary unicode in the text
    columns (JSON escaping both producers), nulls in every column,
    negative money, empty relations. The sale_ts contract is the
    formatted-timestamp string (or null); 2-dp is the money contract
    (both are the schema's documented shape, not a test convenience)."""
    from project2_bigdata_spark.sources.pyds import (
        read_jsonl_sales, write_jsonl_sales,
    )

    out = str(tmp_path_factory.mktemp("pyds_prop") / "export")
    import os as _os
    _os.makedirs(out)
    write_jsonl_sales(_sales_rows_df(spark, rows), out)
    back = sorted(map(tuple, read_jsonl_sales(spark, out, 3).collect()),
                  key=str)
    assert back == sorted(rows, key=str)


def _sales_rows_df(spark, rows):
    return spark.createDataFrame(
        rows, "sale_id string, sale_ts string, total_price double, "
              "purchase_method string")


_snap = st.dictionaries(
    st.integers(0, 6),                                # key
    st.tuples(st.one_of(st.none(), st.integers(0, 3)),   # x (nullable)
              st.one_of(st.none(), st.integers(0, 3))),  # y (nullable)
    max_size=7,
)


@settings(**_SETTINGS)
@given(_snap, _snap)
@pytest.mark.slow
def test_diff_snapshots_classification_matches_model(
        spark, tmp_path_factory, a, b):
    """CDF-core invariant: for ANY two keyed snapshots (nullable
    columns included — the null-safe any-column-differs predicate),
    diff_snapshots classifies exactly like the Python model: insert
    (post-image), delete (pre-image), update_postimage on any
    difference, unchanged keys absent."""
    from project2_bigdata_spark.sources.ingest import (
        commit_version, diff_snapshots,
    )

    path = str(tmp_path_factory.mktemp("diff") / "t")
    schema = "k int, x int, y int"

    def df(snap):
        return spark.createDataFrame(
            [(k, x, y) for k, (x, y) in sorted(snap.items())], schema)

    assert commit_version(df(a), path, 1)
    assert commit_version(df(b), path, 2)
    got = {
        r.k: (r.x, r.y, r._change_type)
        for r in diff_snapshots(spark, path, ["k"], 1, 2).collect()
    }
    want = {}
    for k in set(a) | set(b):
        if k not in a:
            want[k] = (*b[k], "insert")
        elif k not in b:
            want[k] = (*a[k], "delete")  # pre-image
        elif a[k] != b[k]:
            want[k] = (*b[k], "update_postimage")
    assert got == want


# ---------------------------------------------------------------------------
# r11: stats skipping, rebucket invariance, bucketed schema evolution


_pred_rows = st.lists(
    st.tuples(st.integers(-50, 50), st.integers(0, 9)),
    min_size=1, max_size=40, unique_by=lambda t: t,
)
_preds = st.lists(
    st.one_of(
        st.tuples(
            st.sampled_from(["k", "m"]),
            st.sampled_from(["=", "<", "<=", ">", ">="]),
            st.integers(-55, 55),
        ),
        # r12 ops: membership lists (possibly empty) and inclusive
        # (lo, hi) ranges (possibly inverted → empty)
        st.tuples(
            st.sampled_from(["k", "m"]),
            st.just("in"),
            st.lists(st.integers(-55, 55), max_size=5),
        ),
        st.tuples(
            st.sampled_from(["k", "m"]),
            st.just("between"),
            st.tuples(st.integers(-55, 55), st.integers(-55, 55)),
        ),
    ),
    min_size=1, max_size=3,
)


@settings(**_SETTINGS)
@given(_pred_rows, _preds)
@pytest.mark.slow
def test_stats_pruned_read_equals_python_filter(
        spark, tmp_path_factory, rows, preds):
    """File-skipping invariant (r11): for ANY data and ANY conjunctive
    predicate list, read_version(where=...) over a multi-file commit
    equals the independent Python filter — stats may only PRUNE files,
    never change the answer (a bound rounded the wrong way would lose
    rows here immediately)."""
    import operator

    from project2_bigdata_spark.sources.ingest import (
        commit_version, read_version,
    )

    ops = {"=": operator.eq, "<": operator.lt, "<=": operator.le,
           ">": operator.gt, ">=": operator.ge,
           "in": lambda x, v: x in v,
           "between": lambda x, v: v[0] <= x <= v[1]}
    path = str(tmp_path_factory.mktemp("skip") / "t")
    df = spark.createDataFrame(rows, "k int, m int")
    assert commit_version(df.repartitionByRange(4, "k"), path, 1)
    got = sorted(
        (r.k, r.m)
        for r in read_version(spark, path, 1, where=preds).collect())
    want = sorted(
        (k, m) for k, m in rows
        if all(ops[op]({"k": k, "m": m}[c], v) for c, op, v in preds))
    assert got == want


@settings(**_SETTINGS)
@given(_cdc_stream, st.lists(st.sampled_from([1, 2, 3, 5, 8]),
                             min_size=1, max_size=3))
@pytest.mark.slow
def test_rebucket_interleaved_merges_equal_recompute(
        spark, tmp_path_factory, batches, rebuckets):
    """REBUCKET invariance (r11): interleaving layout migrations with
    latest_wins CDC merges (inherit mode after the first) must equal
    the plain latest-per-key recompute for ANY batch split and ANY
    rebucket sequence — a stale bucket function anywhere would keep
    stale rows and diverge from the model here."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version, rebucket_version,
    )

    path = str(tmp_path_factory.mktemp("rebucket") / "dim")
    n_written = 0
    rb = list(rebuckets)
    for i, batch in enumerate(batches):
        if not batch:
            continue
        df = spark.createDataFrame(batch, "k int, ts int, v int")
        merge_upsert_bucketed(
            spark, path, df, keys=["k"], order_cols=["ts", "v"],
            n_buckets=4 if n_written == 0 else None,
            resolve="latest_wins")
        n_written += 1
        if rb:
            rebucket_version(spark, path, rb.pop(0))
    if n_written == 0:
        return
    model: dict[int, tuple[int, int]] = {}
    for batch in batches:
        for k, ts, v in batch:
            if k not in model or (ts, v) >= model[k]:
                model[k] = (ts, v)
    got = {r.k: (r.ts, r.v)
           for r in read_version(spark, path).drop("_bucket").collect()}
    assert got == model


_wide_stream = st.lists(
    st.tuples(
        _cdc_batch,
        st.booleans(),  # this batch carries the evolved column?
    ),
    min_size=1, max_size=4,
)


@settings(**_SETTINGS)
@given(_wide_stream)
@pytest.mark.slow
def test_bucketed_schema_evolution_equals_model(
        spark, tmp_path_factory, batches):
    """Schema-evolution invariance through the COW merge (r11): batches
    randomly carry or omit an evolved column (evolution opted in); the
    final state must equal the model where each key's winning event
    contributes its OWN extra value — None when the winner came from a
    narrow batch — regardless of which buckets were hardlinked when."""
    from project2_bigdata_spark.sources.ingest import (
        merge_upsert_bucketed, read_version,
    )

    path = str(tmp_path_factory.mktemp("evolve") / "dim")
    n_written = 0
    model: dict[int, tuple[int, int, object]] = {}
    for batch, wide in batches:
        if not batch:
            continue
        if wide:
            rows = [(k, ts, v, f"e{v}") for k, ts, v in batch]
            df = spark.createDataFrame(rows, "k int, ts int, v int, extra string")
        else:
            df = spark.createDataFrame(batch, "k int, ts int, v int")
        merge_upsert_bucketed(
            spark, path, df, keys=["k"], order_cols=["ts", "v"],
            n_buckets=4, resolve="latest_wins", schema_evolution=True)
        n_written += 1
        for k, ts, v in batch:
            if k not in model or (ts, v) >= model[k][:2]:
                model[k] = (ts, v, f"e{v}" if wide else None)
    if n_written == 0:
        return
    state = read_version(spark, path).drop("_bucket")
    if "extra" not in state.columns:  # no wide batch ever merged
        got = {r.k: (r.ts, r.v, None) for r in state.collect()}
    else:
        got = {r.k: (r.ts, r.v, r.extra) for r in state.collect()}
    assert got == model
