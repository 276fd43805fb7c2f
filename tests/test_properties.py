"""Property-based tests (SURVEY §5.3) for the normalization core —
hypothesis drives the row content, Spark evaluates, invariants assert.

Each property runs few examples (Spark job per example) but each
example carries many generated rows, so the input space coverage is
rows × examples, not examples alone."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from kaggle_ecommerce_etl_spark.normalize.casts import tolerant_numeric
from kaggle_ecommerce_etl_spark.normalize.tokens import NA_TOKENS, canonicalize_na
from kaggle_ecommerce_etl_spark.operators.dedup import conflict_split

_SETTINGS = dict(max_examples=5, deadline=None)

_plain = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
    min_size=1,
    max_size=12,
).filter(lambda s: s.strip() not in NA_TOKENS and s.strip() != "")


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from(sorted(NA_TOKENS) + [" ", ""]), _plain),
        min_size=1,
        max_size=40,
    )
)
def test_na_canonicalize_property(spark, rows):
    """Every official NA spelling nulls; every non-token survives
    EXACTLY (no trimming side effects on clean values)."""
    df = spark.createDataFrame(
        [(i, t, p) for i, (t, p) in enumerate(rows)],
        "i int, tok string, keep string",
    )
    out = {r.i: r for r in canonicalize_na(df, ["tok", "keep"]).collect()}
    for i, (tok, keep) in enumerate(rows):
        assert out[i].tok is None, f"token {tok!r} must canonicalize to NULL"
        assert out[i].keep == keep


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-9e6, max_value=9e6, allow_nan=False),
            st.sampled_from(["$", "", " "]),
            st.booleans(),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_tolerant_numeric_roundtrip_property(spark, rows):
    """prefix-noise + embedded spaces strip away: value rendered with
    noise parses back to round(x, 2); junk parses to NULL."""
    rendered = [
        (f"{pre}{x:,.4f}" if comma else f"{pre} {x:.4f} ", x)
        for x, pre, comma in rows
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(rendered)]
        + [(len(rendered) + i, "junk-%d" % i) for i in range(3)],
        "i int, raw string",
    )
    out = {
        r.i: r.v
        for r in df.selectExpr("i", f"{tolerant_numeric('raw')} AS v").collect()
    }
    for i, (s, x) in enumerate(rendered):
        assert out[i] is not None and abs(out[i] - round(x, 2)) < 1e-9, (s, x)
    for i in range(len(rendered), len(rendered) + 3):
        assert out[i] is None


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=12), st.integers(0, 999)),
        min_size=1,
        max_size=60,
    )
)
def test_conflict_split_partition_property(spark, rows):
    """clean ∪ flagged == input, disjoint, and the key is unique in
    clean — for ANY keyed multiset."""
    df = spark.createDataFrame(
        [(k, v) for k, v in rows], "order_id int, payload int"
    )
    clean, flagged = conflict_split(df, ["order_id"])
    c = [(r.order_id, r.payload) for r in clean.collect()]
    f = [(r.order_id, r.payload) for r in flagged.collect()]
    assert sorted(c + f) == sorted(rows)
    ckeys = [k for k, _ in c]
    fkeys = {k for k, _ in f}
    assert len(set(ckeys)) == len(ckeys)
    assert not (set(ckeys) & fkeys)


_words = st.lists(
    st.sampled_from(
        ["the", "and", "data", "spark", "merge", "x1", "9", "a", "row.", "b,c"]
    ),
    min_size=0,
    max_size=120,
)


@settings(**_SETTINGS)
@given(st.lists(_words, min_size=1, max_size=40))
def test_quality_score_matches_exact_fraction_reference(spark, docs):
    """quality_score_expr's integer-rational half-up computation must
    equal an independent exact-arithmetic reference (fractions.Fraction)
    for arbitrary texts — the property that makes the score
    engine-independent at any scale."""
    import re
    from fractions import Fraction

    from kaggle_ecommerce_etl_spark.functions.text import (
        STOPWORDS,
        WS_SPLIT,
        quality_score_expr,
    )

    texts = [" ".join(ws) for ws in docs]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r.id: r.q
        for r in df.select(
            "id", quality_score_expr(F.col("text")).alias("q")
        ).collect()
    }

    sw = set(STOPWORDS["en"])
    for i, t in enumerate(texts):
        trimmed = t.strip()
        # WS_SPLIT, not r"\s+": the naive reference must use the SAME
        # portable whitespace class as the engine (r4 migration contract)
        n = 0 if trimmed == "" else len(re.split(WS_SPLIT, trimmed))
        l1 = max(len(t), 1)
        n1 = max(n, 1)
        p = sum(1 for ch in t if ch in ".!?,;:")
        toks = re.split(r"[^a-z]+", trimmed.lower())
        sh = sum(1 for x in toks if x in sw)
        num = (
            4 * min(n, 100) * l1 * n1
            + 300 * n1 * (l1 - p)
            + 300 * l1 * min(5 * sh, n1)
        )
        den = 1000 * l1 * n1
        scaled = Fraction(num * 10000, den)
        v = int(scaled) + (1 if (scaled - int(scaled)) * 2 >= 1 else 0)
        assert got[i] == v / 10000.0, (i, t, got[i], v)


def test_quality_score_exact_for_large_documents(spark):
    """Regression for the >2^53 regime: a ~200 KB document pushes the
    scaled numerator past double-exact territory; the long-verified
    floor correction must still match exact Fraction arithmetic."""
    import re
    from fractions import Fraction

    from kaggle_ecommerce_etl_spark.functions.text import (
        STOPWORDS,
        WS_SPLIT,
        quality_score_expr,
    )

    big = ("the data spark merge row " * 8000).strip()  # ~200 KB, 40k tokens
    texts = [big, big + " .,;", "the " * 50000]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    got = {
        r.id: r.q
        for r in df.select(
            "id", quality_score_expr(F.col("text")).alias("q")
        ).collect()
    }
    sw = set(STOPWORDS["en"])
    for i, t in enumerate(texts):
        trimmed = t.strip()
        # WS_SPLIT, not r"\s+": the naive reference must use the SAME
        # portable whitespace class as the engine (r4 migration contract)
        n = 0 if trimmed == "" else len(re.split(WS_SPLIT, trimmed))
        l1 = max(len(t), 1)
        n1 = max(n, 1)
        p = sum(1 for ch in t if ch in ".!?,;:")
        toks = re.split(r"[^a-z]+", trimmed.lower())
        sh = sum(1 for x in toks if x in sw)
        num = (
            4 * min(n, 100) * l1 * n1
            + 300 * n1 * (l1 - p)
            + 300 * l1 * min(5 * sh, n1)
        )
        den = 1000 * l1 * n1
        assert num * 10000 > 2**53  # the regime this test exists for
        scaled = Fraction(num * 10000, den)
        v = int(scaled) + (1 if (scaled - int(scaled)) * 2 >= 1 else 0)
        assert got[i] == v / 10000.0, (i, got[i], v)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=500),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    st.sampled_from([7, 16, 64]),
)
def test_gap_islands_property(spark, keys, bucket_size):
    """Two-phase bucketed gaps must equal the naive sorted-lead
    reference for ANY key set and bucket size (boundary-straddling
    gaps, empty buckets, singleton buckets all land in the union)."""
    from kaggle_ecommerce_etl_spark.operators.temporal import gap_islands

    df = spark.createDataFrame([(k,) for k in keys], "k bigint")
    got = [
        (r.gap_start, r.gap_end, r.gap_len)
        for r in gap_islands(df, "k", bucket_size=bucket_size).collect()
    ]
    ks = sorted(keys)
    want = [
        (a + 1, b - 1, b - a - 1)
        for a, b in zip(ks, ks[1:])
        if b > a + 1
    ]
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),  # user
            st.integers(min_value=0, max_value=2000),  # start sec
        ),
        min_size=1,
        max_size=50,
    ),
    st.sampled_from([50, 300]),
)
def test_interval_union_property(spark, rows, length):
    """Running-max islands merge must equal the naive python interval
    union for any (user, start) multiset — duplicates, containment,
    chains, and disjoint intervals included."""
    from pyspark.sql.window import Window

    df = spark.createDataFrame(rows, "user_id long, s long").withColumn(
        "e", F.col("s") + F.lit(length)
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = df.withColumn(
        "ni", (prev_max_e.isNull() | (F.col("s") > prev_max_e)).cast("long")
    ).withColumn(
        "island", F.sum("ni").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    islands = marked.groupBy("user_id", "island").agg(
        F.min("s").alias("i0"), F.max("e").alias("i1")
    )
    got = {
        r.user_id: r.covered
        for r in islands.groupBy("user_id")
        .agg(F.sum(F.col("i1") - F.col("i0")).alias("covered"))
        .collect()
    }
    # naive reference: merge sorted intervals per user
    from collections import defaultdict

    per = defaultdict(list)
    for u, s in rows:
        per[u].append((s, s + length))
    want = {}
    for u, ivs in per.items():
        total = 0
        cur_s, cur_e = None, None
        for s, e in sorted(ivs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        total += cur_e - cur_s
        want[u] = total
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "dd"]),
            min_size=0,
            max_size=25,
        ),
        min_size=1,
        max_size=15,
    )
)
def test_udtf_repeat_runs_property(spark, docs):
    """The Arrow UDTF's runs must equal a naive per-doc scan reference
    on arbitrary token sequences (a tiny alphabet maximizes run
    density), including empty docs and all-run docs."""
    from kaggle_ecommerce_etl_spark.queries_ext3 import q_udtf_repeat_runs

    q_udtf_repeat_runs(spark, "/root/testdata/sf0.001")  # register

    def naive(toks):
        out, i = [], 0
        while i < len(toks):
            j = i
            while j + 1 < len(toks) and toks[j + 1] == toks[i]:
                j += 1
            if j > i:
                out.append((i, toks[i], j - i + 1))
            i = j + 1
        return out

    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(docs)],
        "doc_id int, text string",
    )
    df.createOrReplaceTempView("__prop_docs")
    got = {}
    for r in spark.sql(
        "SELECT d.doc_id, r.start_pos, r.token, r.run_len "
        "FROM __prop_docs d, LATERAL repeat_runs(d.text) r"
    ).collect():
        got.setdefault(r.doc_id, []).append(
            (r.start_pos, r.token, r.run_len)
        )
    for i, toks in enumerate(docs):
        # "" tokens from empty docs: split(" ") of "" is [""] — the
        # UDTF skips empty-string runs by contract
        assert sorted(got.get(i, [])) == sorted(naive(toks)), (
            i,
            toks,
        )


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "ab"]), min_size=0, max_size=12),
        min_size=1,
        max_size=40,
    ),
    st.sampled_from([("a", "b"), ("a", "a"), ("b", "a"), ("a", "ab"), ("ab", "a")]),
)
def test_bpe_merge_fold_matches_two_pointer(spark, symss, pair):
    """The single-pass `aggregate` HOF fold implements EXACTLY the
    textbook leftmost non-overlapping merge (two-pointer reference),
    including pathological self-pairs (a,a) and pairs whose merged
    symbol collides with an existing symbol ('a'+'b' == 'ab')."""
    from kaggle_ecommerce_etl_spark.functions.bpe import _merge_fold

    a, b = pair

    def naive(syms: list[str]) -> list[str]:
        out: list[str] = []
        i = 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(symss)], "id long, syms array<string>"
    )
    got = {
        r.id: r.m
        for r in df.select(
            "id", _merge_fold(F.col("syms"), a, b).alias("m")
        ).collect()
    }
    assert got == {i: naive(s) for i, s in enumerate(symss)}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcde", min_size=1, max_size=3),
            st.integers(min_value=0, max_value=1000),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=30,
    ).filter(
        lambda rows: sum(r[1] for r in rows) > 0 and sum(r[2] for r in rows) > 0
    )
)
def test_token_drift_integer_math(spark, rows):
    """token_drift_from_counts reproduces the exact TV numerator /
    denominator of a pure-Python rational computation on ARBITRARY
    counts (duplicate tokens merged first — the query's groupBy
    contract), and respects the (drift desc, tok) total order."""
    from collections import defaultdict

    from kaggle_ecommerce_etl_spark.queries_ext4 import (
        token_drift_from_counts,
    )

    merged: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    for tok, c0, c1 in rows:
        merged[tok][0] += c0
        merged[tok][1] += c1
    t0 = sum(v[0] for v in merged.values())
    t1 = sum(v[1] for v in merged.values())
    tv_num = sum(abs(c0 * t1 - c1 * t0) for c0, c1 in merged.values())

    counts = spark.createDataFrame(
        [(k, v[0], v[1]) for k, v in merged.items()],
        "tok string, c0 long, c1 long",
    )
    out = token_drift_from_counts(counts).collect()
    assert all(r.tv_num == tv_num and r.tv_den == 2 * t0 * t1 for r in out)
    key = [(-r.drift_num, r.tok) for r in out]
    assert key == sorted(key)
    drift_by_tok = {r.tok: r.drift_num for r in out}
    for tok, (c0, c1) in merged.items():
        if tok in drift_by_tok:
            assert drift_by_tok[tok] == abs(c0 * t1 - c1 * t0)
