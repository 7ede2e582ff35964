"""Property-based tests (hypothesis): the exact-arithmetic identity,
sink idempotence, and as-of join semantics hold on arbitrary inputs,
not just the shipped fixtures. Each example evaluates through real
Spark, so example counts are deliberately small and each example
batches many generated cases into one job.
"""

from __future__ import annotations

import datetime as dt
from decimal import ROUND_HALF_UP, Decimal

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from real_time_ride_hailing_data_pipeline_spark.functions.exact import RATIO4
from real_time_ride_hailing_data_pipeline_spark.operators import relational as rel
from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import ParquetUpsertSink

SLOW = settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@SLOW
@given(
    pairs=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=1, max_value=10**6),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_ratio4_is_decimal_half_up(spark, pairs):
    """RATIO4's integer-DIV identity == true decimal half-up rounding
    of n/d to 4 places, for arbitrary n, d."""
    df = spark.createDataFrame(pairs, "n long, d long")
    got = {
        (r["n"], r["d"]): r["ratio"]
        for r in df.select(
            "n", "d", F.expr(RATIO4.format(n="n", d="d")).alias("ratio")
        ).collect()
    }
    for n, d in pairs:
        expected = float(
            (Decimal(n) / Decimal(d)).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        )
        assert got[(n, d)] == expected, (n, d)


@SLOW
@given(
    batch=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.integers(min_value=0, max_value=3),  # window index
            st.integers(min_value=1, max_value=100),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_upsert_sink_batch_idempotent(spark, tmp_path_factory, batch):
    """Applying any batch twice leaves exactly the once-applied state
    (the invariant that makes streaming replays safe)."""
    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (k, t0 + dt.timedelta(minutes=w), t0 + dt.timedelta(minutes=w + 1), n, 1.0)
        for k, w, n in batch
    ]
    schema = (
        "event_type string, window_start timestamp, last_updated timestamp, "
        "total_trips long, average_fare double"
    )
    sink = ParquetUpsertSink(
        str(tmp_path_factory.mktemp("sink") / "t"),
        key_cols=("event_type", "window_start"),
    )
    df = spark.createDataFrame(rows, schema)
    sink.write_batch(df, 0)
    sink.write_batch(df, 1)
    assert {tuple(r) for r in sink.read(spark).collect()} == {tuple(r) for r in rows}


VOCAB = [f"w{i}" for i in range(40)]

FAST3 = settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@FAST3
@given(data=st.data())
def test_minhash_lsh_finds_exactly_the_brute_force_pairs(spark, data):
    """End-to-end LSH dedup == brute-force trigram Jaccard >= 0.5 on
    arbitrary corpora, provided no pair sits in the LSH gray zone:
    docs are random word strings plus planted near-copies (one word
    substituted -> j ~ 0.8+, where 16x2-band recall is ~1-4e-8);
    unrelated random docs sit near j ~ 0."""
    from real_time_ride_hailing_data_pipeline_spark.operators import dedup as dd

    n_docs = data.draw(st.integers(min_value=4, max_value=10))
    docs = []
    for i in range(n_docs):
        words = data.draw(
            st.lists(st.sampled_from(VOCAB), min_size=25, max_size=35)
        )
        docs.append((i, " ".join(words)))
    # plant near-duplicates of the first half
    base_n = len(docs)
    for j in range(data.draw(st.integers(min_value=1, max_value=3))):
        src_id, text = docs[j % base_n]
        words = text.split()
        pos = data.draw(st.integers(min_value=0, max_value=len(words) - 1))
        words[pos] = data.draw(st.sampled_from(VOCAB))
        docs.append((base_n + j, " ".join(words)))

    def shingles(text):
        toks = text.lower().split()
        return {
            " ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))
        }

    expected = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingles(docs[a][1]), shingles(docs[b][1])
            jac = len(sa & sb) / len(sa | sb)
            # discard (don't fail) corpora where chance produced a pair
            # inside the LSH gray zone — recall there is genuinely
            # probabilistic, so equality with brute force isn't the
            # operator's contract for those
            assume(not (0.3 < jac < 0.75))
            if jac >= 0.5:
                expected.add((a, b))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_verify(
            dd.minhash_lsh_candidates(df), df, threshold=0.5
        ).collect()
    }
    assert got == expected


@SLOW
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=1000),  # ts (seconds)
            st.booleans(),  # True = left (query) row, False = right row
        ),
        min_size=2,
        max_size=40,
    )
)
def test_asof_join_matches_bruteforce(spark, data):
    """rel.asof_join == brute-force 'latest right ts <= left ts per
    key' on arbitrary interleavings (including ties: right row at the
    same timestamp matches)."""
    t0 = dt.datetime(2024, 1, 1)
    lefts = [
        (i, u, t0 + dt.timedelta(seconds=s))
        for i, (u, s, is_l) in enumerate(data)
        if is_l
    ]
    rights = [
        (u, t0 + dt.timedelta(seconds=s))
        for (u, s, is_l) in data
        if not is_l
    ]
    if not lefts or not rights:
        return
    ldf = spark.createDataFrame(lefts, "event_id long, user_id long, ts timestamp")
    rdf = spark.createDataFrame(rights, "user_id long, rts timestamp")
    got = {
        r["event_id"]: r["matched"]
        for r in rel.asof_join(
            ldf, rdf, ["user_id"], "ts", "rts", "rts", out_col="matched"
        ).collect()
    }
    for eid, u, ts in lefts:
        candidates = [rts for ru, rts in rights if ru == u and rts <= ts]
        expected = max(candidates) if candidates else None
        assert got[eid] == expected, (eid, u, ts)


def test_pii_scrub_counts_and_redacts(spark):
    """pii_scrub on synthetic rows (the shipped corpus contains no
    PII — verified: zero digits/'@' — so the operator's proof lives
    here): counts per category are exact and the scrubbed text is
    byte-identical to DuckDB running the SAME pattern strings with
    RE2, demonstrating the patterns are dialect-portable."""
    import duckdb

    from real_time_ride_hailing_data_pipeline_spark.operators import text as tx

    rows = [
        (1, "contact bob.smith+spam@example.co.uk or alice@ex.io today"),
        (2, "server at 10.0.255.7 answered, backup at 192.168.1.1 did not"),
        (3, "call +1 (415) 555-0199 or 020 7946 0958 now"),
        (4, "mixed: a@b.io from 8.8.8.8 dialed 555-867-5309x"),
        (5, "nothing sensitive here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in tx.pii_scrub(df).collect()}
    assert got[1]["n_emails"] == 2 and got[1]["n_ips"] == 0 and got[1]["n_phones"] == 0
    assert got[2]["n_ips"] == 2 and got[2]["n_emails"] == 0
    assert got[3]["n_phones"] == 2
    assert got[4]["n_emails"] == 1 and got[4]["n_ips"] == 1 and got[4]["n_phones"] == 1
    assert got[5]["n_emails"] == got[5]["n_ips"] == got[5]["n_phones"] == 0
    assert "<EMAIL>" in got[1]["scrubbed_text"] and "@" not in got[1]["scrubbed_text"]

    con = duckdb.connect()
    for doc_id, text in rows:
        duck = con.execute(
            "SELECT regexp_replace(regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'),"
            " ?, '<IP>', 'g'), ?, '<PHONE>', 'g')",
            [text, tx.PII_EMAIL_RE, tx.PII_IPV4_RE, tx.PII_PHONE_RE],
        ).fetchone()[0]
        assert got[doc_id]["scrubbed_text"] == duck, (doc_id, got[doc_id]["scrubbed_text"], duck)


@SLOW
@given(data=st.data())
def test_prefix_filter_jaccard_is_exact_on_any_corpus(spark, data):
    """prefix_filter_candidates + jaccard_verify == brute-force
    trigram Jaccard >= 0.5 on ARBITRARY corpora — including the
    adversarial shapes LSH has gray zones for: exact duplicate groups
    (every shingle hot) and boilerplate-prefix families (many docs
    share a hot prefix). Prefix filtering is exact by theorem
    (Bayardo WWW'07 + PPJoin positional filter), so unlike the LSH
    property test no probabilistic corpus is discarded."""
    from real_time_ride_hailing_data_pipeline_spark.operators import dedup as dd

    docs: list[tuple[int, str]] = []
    boiler = " ".join(data.draw(st.lists(st.sampled_from(VOCAB), min_size=12, max_size=12)))
    for _ in range(data.draw(st.integers(min_value=2, max_value=4))):
        docs.append((len(docs), boiler))  # exact copies: every shingle hot
    for _ in range(data.draw(st.integers(min_value=2, max_value=4))):
        tail = " ".join(
            data.draw(st.lists(st.sampled_from(VOCAB), min_size=10, max_size=14))
        )
        docs.append((len(docs), boiler + " " + tail))  # shared hot prefix
    for _ in range(data.draw(st.integers(min_value=2, max_value=5))):
        docs.append(
            (
                len(docs),
                " ".join(
                    data.draw(st.lists(st.sampled_from(VOCAB), min_size=20, max_size=30))
                ),
            )
        )

    def shingles(text: str) -> set[str]:
        toks = text.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    expected = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingles(docs[a][1]), shingles(docs[b][1])
            i, u = len(sa & sb), len(sa | sb)
            # the operator's exact half-up 4-decimal jaccard, in ints
            if (2 * i * 10000 + u) // (2 * u) >= 5000:
                expected.add((docs[a][0], docs[b][0]))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_verify(
            dd.prefix_filter_candidates(df), df, shingle_n=3, threshold=0.5
        ).collect()
    }
    assert got == expected


def _bm25_python(docs: dict[int, str], terms: list[str], k: int = 10):
    """Pure-Python rational BM25 (k1=6/5, b=3/4, log-free idf) in exact
    integer micro-units — independent re-derivation of the formula in
    operators/search.py, no shared code path."""
    from fractions import Fraction

    toks = {d: t.strip().lower().split() for d, t in docs.items()}
    n_docs = len(toks)
    t_tok = sum(len(v) for v in toks.values())
    dfreq = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    out = []
    for d, v in toks.items():
        dl = len(v)
        s, matched = 0, 0
        for t in terms:
            tf = v.count(t)
            if tf == 0 or dfreq[t] == 0:
                continue
            matched += 1
            idf = Fraction(2 * n_docs - 2 * dfreq[t] + 1, 2 * dfreq[t] + 1)
            tfc = Fraction(
                44 * t_tok * tf, 20 * t_tok * tf + 6 * t_tok + 18 * dl * n_docs
            )
            exactv = 1_000_000 * idf * tfc
            # half-up round of a positive fraction
            s += (2 * exactv.numerator + exactv.denominator) // (
                2 * exactv.denominator
            )
        if matched:
            out.append((d, s, matched))
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


@settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(
    data=st.lists(
        st.lists(
            st.sampled_from(["join", "scan", "merge", "vector", "row", "batch"]),
            min_size=1,
            max_size=30,
        ),
        min_size=2,
        max_size=12,
    )
)
def test_bm25_matches_exact_python(spark, data):
    from real_time_ride_hailing_data_pipeline_spark.operators import search as srch

    docs = {i: " ".join(words) for i, words in enumerate(data)}
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = [
        (r.doc_id, r.bm25_micro, r.terms_matched)
        for r in srch.bm25_topk(df, ["vector", "merge"], k=5).collect()
    ]
    assert got == _bm25_python(docs, ["vector", "merge"], k=5)


def test_substring_spans_consolidate_and_guard_short_docs(spark):
    """A planted 20-token shared run must surface as ONE maximal span
    with exact start positions; docs shorter than the shingle width
    must not crash (Spark's sequence(1,0) counts down) or emit rows;
    a sub-threshold 9-token overlap must be filtered by min_span."""
    from real_time_ride_hailing_data_pipeline_spark.operators import dedup as dd

    run = " ".join(f"w{i}" for i in range(20))          # the duplicated block
    short_overlap = " ".join(f"s{i}" for i in range(9))  # below min_span=16
    rows = [
        (1, f"alpha beta {run} gamma"),
        (2, f"{run} delta epsilon zeta"),
        (3, "tiny doc"),                                  # < n tokens
        (4, f"prefix {short_overlap} pad1 pad2 pad3 pad4 pad5 pad6 pad7"),
        (5, f"{short_overlap} qad1 qad2 qad3 qad4 qad5 qad6 qad7 qad8"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dd.substring_duplicate_spans(df, n=8, min_span=16, max_freq=20).collect()
    assert [(r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens) for r in got] == [
        (1, 2, 3, 1, 20)
    ]
    # the 9-token overlap still consolidates when min_span allows it
    low = dd.substring_duplicate_spans(df, n=8, min_span=8, max_freq=20).collect()
    pairs = {(r.doc_a, r.doc_b): r.span_tokens for r in low}
    assert pairs[(4, 5)] == 9 and pairs[(1, 2)] == 20


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=65535),
            st.integers(min_value=0, max_value=65535),
        ),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_morton_interleave_is_bijective(spark, pairs):
    """The z-order key must be a bijection on the 16-bit × 16-bit
    domain: distinct (a, b) -> distinct z, and de-interleaving the
    engine's z recovers (a, b) exactly. Without bijectivity two
    different coordinate pairs could collide into one clustering key
    and file skipping would silently read or drop the wrong data."""
    from real_time_ride_hailing_data_pipeline_spark.functions.layout import morton_z

    df = spark.createDataFrame(pairs, ["a", "b"]).withColumn(
        "z", F.expr(morton_z("a", "b"))
    )
    rows = df.collect()
    assert len({r["z"] for r in rows}) == len(pairs)
    for r in rows:
        a = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r["a"], r["b"])


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
def test_pagerank_mass_conserved_and_positive(spark, raw_edges):
    """Fixed-point PageRank invariants on arbitrary graphs (fed as an
    undirected edge set, both orientations, so no dangling nodes):
    every rank is at least the teleport term, and total rank mass
    stays within [BASE - n·(iters+1) floor-loss units, BASE] — the
    damped walk neither creates mass nor loses more than the floor
    divisions can account for."""
    from real_time_ride_hailing_data_pipeline_spark.operators.graph import (
        BASE,
        pagerank_fixed_point,
    )

    edges = {(a, b) for a, b in raw_edges if a != b}
    assume(edges)
    sym = list(edges | {(b, a) for a, b in edges})
    df = spark.createDataFrame(sym, ["src", "dst"])
    ranks = pagerank_fixed_point(df, iters=2).collect()
    n = len({x for e in sym for x in e})
    assert len(ranks) == n
    teleport = (3 * BASE) // (20 * n)
    total = sum(r["r"] for r in ranks)
    assert all(r["r"] >= teleport for r in ranks)
    # each of the n nodes floors at most (iters+1) times per unit mass;
    # a generous slack of n*(2+1)*20 units bounds the loss
    assert total <= BASE
    assert total >= BASE - n * 60 - n * teleport


@SLOW
@given(data=st.data())
def test_containment_prefix_filter_is_exact_on_any_corpus(spark, data):
    """containment_pairs == brute-force trigram containment >= 0.8 on
    ARBITRARY corpora — validating the asymmetric prefix-filter
    theorem (the smaller side's rarest-shingle prefix joined against
    the full index loses no true pair) on the adversarial shapes the
    heuristic it replaced used to miss or explode on: exact duplicate
    groups (all shingles hot), short-doc-inside-long-doc embeddings,
    and boilerplate-prefix families."""
    from real_time_ride_hailing_data_pipeline_spark.operators import dedup as dd

    docs: list[tuple[int, str]] = []
    boiler = " ".join(data.draw(st.lists(st.sampled_from(VOCAB), min_size=10, max_size=10)))
    for _ in range(data.draw(st.integers(min_value=2, max_value=3))):
        docs.append((len(docs), boiler))  # exact copies: containment 1.0
    for _ in range(data.draw(st.integers(min_value=1, max_value=3))):
        tail = " ".join(
            data.draw(st.lists(st.sampled_from(VOCAB), min_size=15, max_size=25))
        )
        docs.append((len(docs), boiler + " " + tail))  # short-inside-long
    for _ in range(data.draw(st.integers(min_value=2, max_value=4))):
        docs.append(
            (
                len(docs),
                " ".join(
                    data.draw(st.lists(st.sampled_from(VOCAB), min_size=8, max_size=30))
                ),
            )
        )

    def shingles(text: str) -> set[str]:
        toks = text.lower().split()
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}

    expected = set()
    for a in range(len(docs)):
        for b in range(a + 1, len(docs)):
            sa, sb = shingles(docs[a][1]), shingles(docs[b][1])
            overlap, msize = len(sa & sb), min(len(sa), len(sb))
            if overlap * 5 >= msize * 4:  # exact integer threshold 0.8
                expected.add((docs[a][0], docs[b][0]))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in dd.containment_pairs(
            df, "text", "doc_id", shingle_n=3, threshold=0.8
        ).collect()
    }
    assert got == expected


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000_000),
        min_size=1,
        max_size=300,
        unique=True,
    )
)
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_global_row_index_matches_enumerate_sorted(spark, tmp_path_factory, ids):
    """Property: for ANY unique key set — dense, sparse, adversarially
    clustered (hypothesis shrinks toward clusters in one bucket) — the
    bucketed prefix-sum global index equals enumerate(sorted(keys)),
    i.e. exactly what the single-partition row_number anti-pattern
    would compute, and the %97 thinning keeps precisely the expected
    sample of it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from real_time_ride_hailing_data_pipeline_spark import queries as q

    sf = str(tmp_path_factory.mktemp("gri"))
    n = len(ids)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array([dt.datetime(2024, 1, 1)] * n, pa.timestamp("us")),
                "user_id": pa.array([1] * n, pa.int64()),
                "event_type": pa.array(["click"] * n, pa.string()),
                "value": pa.array([1.0] * n, pa.float64()),
                "props": pa.array(["{}"] * n, pa.string()),
            }
        ),
        os.path.join(sf, "events.parquet"),
    )
    got = {
        r["event_id"]: r["global_idx"]
        for r in q.all_queries()["global_row_index"](spark, sf).collect()
    }
    expected = {
        key: pos + 1
        for pos, key in enumerate(sorted(ids))
        if pos % 97 == 0
    }
    assert got == expected


@given(data=st.data())
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_batch_topk_screen_is_lossless(spark, data):
    """The r12 two-phase brute_force_topk_batch (fp64 BLAS screen +
    exact-DECIMAL refine) returns EXACTLY the single-phase exact
    result on arbitrary corpora — including the adversarial tie shape
    (duplicated vectors, so whole tie-groups straddle the screen's
    cut) and a margin squeezed to 0, where only the eps band and the
    top-k-per-batch argument protect losslessness."""
    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    dim = 6
    n = data.draw(st.integers(min_value=6, max_value=16))
    base = [
        [
            data.draw(
                st.floats(
                    min_value=-1.0,
                    max_value=1.0,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                )
            )
            for _ in range(dim)
        ]
        for _ in range(n)
    ]
    rows = []
    vid = 0
    for vec in base:
        if all(abs(x) < 1e-6 for x in vec):
            vec[0] = 1.0  # avoid zero norm
        copies = data.draw(st.integers(min_value=1, max_value=3))
        for _ in range(copies):  # exact duplicates -> guaranteed ties
            rows.append((vid, [float(x) for x in vec]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = df.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = data.draw(st.integers(min_value=1, max_value=4))
    got = sorted(
        tuple(r)
        for r in sim.brute_force_topk_batch(
            df, qdf, k=k, screen_margin=0
        ).collect()
    )
    # single-phase reference built from the SAME SQL arithmetic
    # (exact-decimal cosine + row_number over sim DESC, id ASC): what
    # the property pins is that the fp64 SCREEN never changes the
    # result — not the decimal arithmetic itself, which a Python
    # float re-derivation would diverge from at round() boundaries
    from pyspark.sql import Window as _W

    scored = (
        df.crossJoin(
            F.broadcast(
                qdf.select(
                    F.col("query_id").alias("_qid"),
                    F.col("embedding").alias("_qvec"),
                )
            )
        )
        .select(
            F.col("_qid").alias("query_id"),
            F.col("vec_id"),
            sim.cosine_similarity_expr("embedding", "_qvec").alias("sim"),
        )
    )
    w = _W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    expected = sorted(
        tuple(r)
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "rn", "vec_id", "sim")
        .collect()
    )
    assert got == expected, (got, expected)


def test_batch_topk_screen_keeps_ties_at_6dp_rounding(spark):
    """ADVICE r12 (high): the refine ranks by round(sim, 6) DESC then
    id ASC, so two rows whose RAW cosines differ by up to ~1e-6 can
    round to the SAME 6-dp value and tie-break by id. A screen band of
    bare fp drift (1e-9) dropped a lower-id row sitting ~3e-8 below
    the batch-local k-th best even though the exact ranking tie-breaks
    it INTO the top-k. Deterministic adversarial shape: id 0 at raw
    cosine 1 - d^2/2 ≈ 1 - 3e-8 (rounds to 1.000000), ids 1..k at raw
    1.0 — with screen_margin=0 the old band screened id 0 out; the
    correct result is ids 0..k-1."""
    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    d = 2.0 ** -12  # f32-exact; 1 - cos = d^2/2 ≈ 2.98e-8 (> 1e-9, < 1e-6)
    k = 3
    rows = [(0, [1.0, d])] + [(i, [1.0, 0.0]) for i in range(1, k + 1)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(
        [(7, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    got = sorted(
        (r["vec_id"], r["rn"], r["sim"])
        for r in sim.brute_force_topk_batch(
            df, qdf, k=k, screen_margin=0
        ).collect()
    )
    # every sim rounds to 1.0 at 6 dp -> tie-break by id: 0, 1, 2
    assert got == [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 1.0)], got


def test_batch_topk_screen_covers_decimal_refine_error(spark):
    """The refine's ``decimal_dot`` rounds every product to 12 dp, so
    for tiny components its cosine drifts from the fp64 screen's by
    far more than the 6-dp band: here id 6 (one component 4.67e-05 ->
    4.7e-05) sits ~2e-6 BELOW the query's own copy (id 7) in fp64, yet
    refines to the same 1.0 and wins the id tie-break. A screen band
    without the decimal error bound kept only id 7 at
    ``screen_margin=0``."""
    import numpy as np

    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    a = [9.84e-05, 8.23e-05, 4.67e-05, 3.36e-05, -1.84e-05, -2.54e-05]
    b = [9.84e-05, 8.23e-05, 4.7e-05, 3.36e-05, -1.84e-05, -2.54e-05]
    df = spark.createDataFrame(
        [(6, b), (7, a)], "vec_id long, embedding array<float>"
    ).coalesce(1)  # one screen batch
    qdf = spark.createDataFrame([(9, a)], "query_id long, embedding array<float>")
    exact = {
        r["vec_id"]: r["sim"]
        for r in df.crossJoin(qdf.select(F.col("embedding").alias("q")))
        .select("vec_id", sim.cosine_similarity_expr("embedding", "q").alias("sim"))
        .collect()
    }
    f64 = lambda v: np.asarray(v, dtype=np.float32).astype(np.float64)  # noqa: E731
    q = f64(a)
    fp64 = {
        i: float(v @ q / np.sqrt((v @ v) * (q @ q)))
        for i, v in ((6, f64(b)), (7, q))
    }
    assert fp64[7] - fp64[6] > 1e-6 + 1e-9  # outside the 6-dp band
    assert (-exact[6], 6) < (-exact[7], 7)  # the refine's ranking
    got = [
        tuple(r)
        for r in sim.brute_force_topk_batch(df, qdf, k=1, screen_margin=0).collect()
    ]
    assert got == [(9, 1, 6, exact[6])], got


def test_decimal_dot_sums_exactly_at_12dp(spark):
    """``decimal_dot``'s running sum keeps all 12 decimal places: over
    the vectors above it equals the exact sum of the 12-dp-rounded
    products (2.0764E-8) — the engine-identical value DuckDB's
    ``list_sum`` gives — not a sum rounded to 11 dp at every step
    (2.0770E-8)."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from real_time_ride_hailing_data_pipeline_spark.functions.exact import (
        decimal_dot,
    )

    a = [9.84e-05, 8.23e-05, 4.67e-05, 3.36e-05, -1.84e-05, -2.54e-05]
    b = [9.84e-05, 8.23e-05, 4.7e-05, 3.36e-05, -1.84e-05, -2.54e-05]
    got = (
        spark.createDataFrame([(a, b)], "x array<float>, q array<float>")
        .select(F.expr(decimal_dot("x", "q")).alias("d"))
        .collect()[0]["d"]
    )
    exact = sum(
        Decimal(repr(float(np.float32(u)) * float(np.float32(v)))).quantize(
            Decimal("1e-12"), ROUND_HALF_UP
        )
        for u, v in zip(a, b)
    )
    assert exact == Decimal("2.0764E-8")
    assert got == exact, got


def test_batch_topk_supports_non_long_ids(spark):
    """ADVICE r12 (low): the screen's output schema derives from the
    INPUT id types — string doc ids and int query ids pass through
    the two-phase path unchanged (the previous hardcoded `long, long`
    schema corrupted them)."""
    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    df = spark.createDataFrame(
        [("doc-a", [1.0, 0.0]), ("doc-b", [0.6, 0.8]), ("doc-c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(5, [1.0, 0.0])], "query_id int, embedding array<float>"
    )
    got = [
        (r["query_id"], r["rn"], r["vec_id"])
        for r in sim.brute_force_topk_batch(df, qdf, k=2)
        .orderBy("rn")
        .collect()
    ]
    assert got == [(5, 1, "doc-a"), (5, 2, "doc-b")], got


@given(data=st.data())
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_batch_topk_masked_screen_is_lossless(spark, data):
    """r14 (VERDICT r13 item 3): the per-query CANDIDATE MASK inside
    the BLAS screen (mask_col + query_masks) returns EXACTLY the exact
    ranking of each query's masked subset — arbitrary corpora,
    duplicated-vector ties, screen_margin squeezed to 0, random cell
    assignments and random per-query allowed-cell sets (including
    queries whose mask matches nothing)."""
    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    dim, n_cells = 5, 4
    n = data.draw(st.integers(min_value=6, max_value=14))
    rows = []
    for vid in range(n):
        vec = [
            data.draw(
                st.floats(
                    min_value=-1.0,
                    max_value=1.0,
                    allow_nan=False,
                    allow_infinity=False,
                    width=32,
                )
            )
            for _ in range(dim)
        ]
        if all(abs(x) < 1e-6 for x in vec):
            vec[0] = 1.0  # avoid zero norm
        cell = data.draw(st.integers(min_value=0, max_value=n_cells - 1))
        rows.append((vid, [float(x) for x in vec], cell))
        if data.draw(st.booleans()):  # exact duplicate -> guaranteed tie
            rows.append((vid + 1000, [float(x) for x in vec], cell))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, cell int"
    )
    qdf = df.filter(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    masks = {
        r["query_id"]: sorted(
            data.draw(
                st.sets(
                    st.integers(min_value=0, max_value=n_cells - 1),
                    min_size=1,
                    max_size=n_cells,
                )
            )
        )
        for r in qdf.select("query_id").collect()
    }
    k = data.draw(st.integers(min_value=1, max_value=4))
    got = sorted(
        tuple(r)
        for r in sim.brute_force_topk_batch(
            df,
            qdf,
            k=k,
            screen_margin=0,
            mask_col="cell",
            query_masks=masks,
        ).collect()
    )
    # reference: per query, the UNMASKED exact ranking of its allowed
    # subset (the same SQL arithmetic as the single-query proof)
    from pyspark.sql import Window as _W

    expected = []
    for qid, allowed in masks.items():
        qvec = qdf.filter(F.col("query_id") == qid).collect()[0]["embedding"]
        sub = df.filter(F.col("cell").isin(allowed))
        qq = spark.createDataFrame([(qvec,)], "qvec array<float>")
        scored = (
            sub.crossJoin(F.broadcast(qq))
            .select(
                F.lit(qid).alias("query_id"),
                F.col("vec_id"),
                sim.cosine_similarity_expr("embedding", "qvec").alias("sim"),
            )
        )
        w = _W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
        expected.extend(
            tuple(r)
            for r in scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .select("query_id", "rn", "vec_id", "sim")
            .collect()
        )
    assert got == sorted(expected), (got, sorted(expected))


def test_batch_topk_masks_missing_a_query_id_raise_value_error(spark):
    """A ``query_masks`` map that misses a query id is a caller error
    named at the boundary (a descriptive ValueError), not a bare
    KeyError from inside the screen setup."""
    import pytest

    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], 0), (1, [0.0, 1.0], 1)],
        "vec_id long, embedding array<float>, cell int",
    )
    qdf = spark.createDataFrame(
        [(7, [1.0, 0.0]), (8, [0.0, 1.0])], "query_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match=r"query_masks has no entry .*\[8\]"):
        sim.brute_force_topk_batch(
            df, qdf, k=1, mask_col="cell", query_masks={7: [0]}
        )


def test_batch_topk_zero_norm_vectors_do_not_poison_screen(spark):
    """ADVICE r12 (low): a zero-norm corpus vector's NaN cosine must
    not land on the screen's partition cut and silently drop the whole
    batch's candidates — guarded norms score it 0.0 and real vectors
    still rank."""
    from real_time_ride_hailing_data_pipeline_spark.operators import (
        similarity as sim,
    )

    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.8, 0.6])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qdf = spark.createDataFrame(
        [(9, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    got = [
        (r["rn"], r["vec_id"])
        for r in sim.brute_force_topk_batch(df, qdf, k=1, screen_margin=0)
        .orderBy("rn")
        .collect()
    ]
    assert got == [(1, 1)], got
