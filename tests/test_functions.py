"""Unit tests for the LLM-pipeline text operators (dedup / text / quality)."""

import pytest
from pyspark.sql import functions as F

from tsdb_parquet_spark.functions import dedup as D
from tsdb_parquet_spark.functions import text as TX


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "completely different text about spark engines"),
        (3, "the   quick brown fox jumps over the lazy dog "),  # ws-dup of 0
        (4, "el perro y el gato en la casa no se ven"),
        (5, "xy"),  # too short for shingles
    ]
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_exact_dedup_whitespace_insensitive(docs):
    groups = D.exact_dedup_groups(docs).collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in groups}
    assert by_keep[0] == 2  # doc 3 collapses into doc 0
    assert 3 not in by_keep


def test_drop_exact_duplicates(docs):
    kept = D.drop_exact_duplicates(docs)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert ids == [0, 1, 2, 4, 5]


def test_shingles_short_doc_empty(spark, docs):
    out = docs.select("doc_id", F.size(D.shingles(F.col("text"))).alias("n"))
    n = {r["doc_id"]: r["n"] for r in out.collect()}
    assert n[5] == 0
    assert n[0] == 7  # 9 tokens -> 7 tri-shingles


def test_lsh_finds_near_duplicates(docs):
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in D.lsh_candidate_pairs(docs, num_hashes=8, bands=4).collect()
    }
    assert (0, 1) in pairs or (0, 3) in pairs
    assert (0, 3) in pairs  # identical docs always collide
    assert not any(2 in p for p in pairs)  # unrelated doc never pairs


def test_jaccard_values(docs):
    pairs = docs.sparkSession.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], "doc_a LONG, doc_b LONG"
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in D.verify_pairs_jaccard(docs, pairs, threshold=0.0).collect()
    }
    assert out[(0, 3)] == 1.0
    assert 0.4 < out[(0, 1)] < 1.0  # one word changed
    assert out[(0, 2)] == 0.0


def test_simhash_similar_docs_close(docs):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    ham = bin(out[0] ^ out[1]).count("1")
    ham_far = bin(out[0] ^ out[2]).count("1")
    assert out[0] == out[3]  # whitespace-insensitive
    assert ham <= ham_far


def test_language_id(docs):
    out = {
        r["doc_id"]: r["lang"]
        for r in docs.select(
            "doc_id", TX.language_id(F.col("text")).alias("lang")
        ).collect()
    }
    assert out[0] == "en"
    assert out[4] == "es"
    assert out[5] == "und"


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 42",), ("",)], "text STRING")
    out = df.select(
        TX.token_count(F.col("text")).alias("n"),
        TX.bpe_token_count(F.col("text")).alias("b"),
    ).collect()
    assert out[0]["n"] == 3
    # hello , world ! 42 -> 5 BPE-ish tokens
    assert out[0]["b"] == 5
    assert out[1]["n"] == 0 and out[1]["b"] == 0


def test_quality_score_bounds(docs):
    vals = [
        r["q"]
        for r in docs.select(TX.quality_score(F.col("text")).alias("q")).collect()
    ]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_precomputed_hits_equivalence(docs):
    """The hot-path form (stopword-hit counts materialized once in a
    prior projection, then passed via ``hits=``/``stop_hits=``) must be
    bit-identical to the inline form — it exists purely so interpreted
    HOFs evaluate once per row instead of once per CASE reference."""
    t = F.col("text")
    toks = F.col("__toks")
    base = docs.select("doc_id", "text", TX.tokens(t).alias("__toks"))
    withhits = base.select(
        "*",
        *[
            TX.stopword_hits(t, lang, toks).alias(f"__hit_{lang}")
            for lang in TX.STOPWORDS
        ],
    )
    hits = {lang: F.col(f"__hit_{lang}") for lang in TX.STOPWORDS}
    fast = withhits.select(
        "doc_id",
        TX.language_id(t, toks, hits=hits).alias("lang"),
        TX.quality_score(t, toks, stop_hits=hits["en"]).alias("q"),
    ).collect()
    slow = base.select(
        "doc_id",
        TX.language_id(t, toks).alias("lang"),
        TX.quality_score(t, toks).alias("q"),
    ).collect()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_approx_count_distinct_within_tolerance(spark, sf_oracle):
    """The HLL sketch path (not oracle-comparable — sketch internals
    differ per engine) must land within 5% of the exact distinct count."""
    li = spark.read.parquet(f"{sf_oracle}/lineitem.parquet")
    row = li.agg(
        F.countDistinct("l_partkey").alias("exact"),
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx"),
    ).collect()[0]
    assert abs(row["approx"] - row["exact"]) / row["exact"] < 0.05


def test_simhash_banding_is_complete_for_small_hamming(docs):
    """Pigeonhole: every pair within max_hamming=3 bits (< bands=4) must
    be found by band-bucketing — compare against brute-force all-pairs."""
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bin(sigs[a] ^ sigs[b]).count("1") <= 3:
                want.add((a, b))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in D.simhash_near_duplicates(docs, max_hamming=3).collect()
    }
    assert got == want


def test_duplicated_ngram_spans(spark):
    shared = "alpha beta gamma delta epsilon"  # one shared 5-gram window
    rows = [
        (0, shared + " zeta eta"),
        (1, "prefix words here " + shared),
        (2, "totally unrelated content with many distinct words inside"),
        (3, "tiny doc"),  # < 5 tokens -> excluded
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r for r in D.duplicated_ngram_spans(docs, size=5).collect()
    }
    assert 3 not in out
    # doc 0: 7 tokens -> 3 windows, exactly one ("alpha..epsilon") shared
    assert out[0]["n_shingles"] == 3 and out[0]["n_dup_shingles"] == 1
    assert out[1]["n_dup_shingles"] == 1
    assert out[2]["n_dup_shingles"] == 0 and out[2]["dup_ratio"] == 0.0
    assert abs(out[0]["dup_ratio"] - round(1 / 3, 4)) < 1e-9


def test_duplicated_ngram_spans_matches_bruteforce(spark):
    # property-style check vs a pure-python reference on a random corpus
    import random

    rng = random.Random(99)
    vocab = ["aa", "bb", "cc", "dd"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 12))))
        for i in range(20)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_dup_shingles"])
        for r in D.duplicated_ngram_spans(docs, size=4).collect()
    }
    from collections import defaultdict

    occ = defaultdict(set)
    wins = {}
    for i, t in rows:
        toks = t.split()
        ws = [tuple(toks[j : j + 4]) for j in range(len(toks) - 3)]
        wins[i] = ws
        for w in ws:
            occ[w].add(i)
    for i, t in rows:
        ws = wins[i]
        if not ws:
            assert i not in got
            continue
        ndup = sum(1 for w in ws if len(occ[w]) > 1)
        assert got[i] == (len(ws), ndup), i


def test_remove_duplicated_spans(spark):
    shared = "alpha beta gamma delta epsilon"  # the only cross-doc 5-gram
    rows = [
        (0, "u1 u2 " + shared + " u3 u4"),
        (1, shared + " v1 v2 v3"),
        (2, "all unique words in this document only here"),
        (3, "tiny doc"),  # < 5 tokens: untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r
        for r in D.remove_duplicated_spans(docs, size=5).collect()
    }
    assert out[0]["clean_text"] == "u1 u2 u3 u4"
    assert out[0]["n_removed"] == 5
    assert out[1]["clean_text"] == "v1 v2 v3"
    assert out[1]["n_removed"] == 5
    assert out[2]["n_removed"] == 0
    assert out[2]["clean_text"].startswith("all unique")
    assert out[3]["n_removed"] == 0 and out[3]["clean_text"] == "tiny doc"


def test_remove_duplicated_spans_overlapping_windows(spark):
    # two overlapping shared windows cover a 6-token run
    run = "a b c d e f"  # windows "a..e" and "b..f" both shared
    rows = [(0, "x " + run + " y"), (1, run)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {
        r["doc_id"]: r
        for r in D.remove_duplicated_spans(docs, size=5).collect()
    }
    assert out[0]["clean_text"] == "x y"
    assert out[0]["n_removed"] == 6
    assert out[1]["clean_text"] == "" and out[1]["n_removed"] == 6


def test_lm_score_prefers_in_domain_text(spark):
    from tsdb_parquet_spark.functions import quality as QA

    train = spark.createDataFrame(
        [(100, "the cat sat on the mat " * 5)], "doc_id LONG, text STRING"
    )
    corpus = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),      # in-domain
            (1, "zq xw vv kk unseen tokens"),   # out-of-domain
            (2, "one"),                          # no bigram -> omitted
        ],
        "doc_id LONG, text STRING",
    )
    out = {
        r["doc_id"]: r for r in QA.lm_score(corpus, train).collect()
    }
    assert 2 not in out
    assert out[0]["avg_logprob"] > out[1]["avg_logprob"]
    assert out[0]["n_bigrams"] == 5 and out[1]["n_bigrams"] == 5


# ---------------------------------------------------------------------------
# property test: ExactSubstr span stats vs a pure-python reference
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _ref_spans(texts: dict, size: int):
    """Reference from the docstring: per doc, how many of its size-token
    windows (lowercased whitespace tokens) occur in ANOTHER document;
    every occurrence counts."""
    toks = {
        i: [t for t in txt.lower().split() if t] for i, txt in texts.items()
    }
    windows = {
        i: [tuple(ts[j : j + size]) for j in range(len(ts) - size + 1)]
        for i, ts in toks.items()
        if len(ts) >= size
    }
    docs_of = {}
    for i, ws in windows.items():
        for w in set(ws):
            docs_of.setdefault(w, set()).add(i)
    out = {}
    for i, ws in windows.items():
        dup = sum(1 for w in ws if len(docs_of[w]) >= 2)
        out[i] = (len(ws), dup, round(dup / len(ws), 4))
    return out


@settings(max_examples=10, deadline=None)
@given(
    docs_words=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta", "eps"]),
            min_size=0,
            max_size=14,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_duplicated_spans_match_reference(spark, docs_words):
    """A 5-word vocabulary forces plenty of genuine cross-doc window
    collisions, exercising the shared/unshared boundary hard."""
    size = 3
    texts = {i: " ".join(ws) for i, ws in enumerate(docs_words)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: (
            r["n_shingles"],
            r["n_dup_shingles"],
            r["dup_ratio"],
        )
        for r in D.duplicated_ngram_spans(df, size=size).collect()
    }
    assert got == _ref_spans(texts, size)


def _ref_remove_spans(texts: dict, size: int):
    """Reference ExactSubstr removal: drop every token covered by a
    size-window occurring in >= 2 docs, rebuild from survivors."""
    toks = {
        i: [t for t in txt.lower().split() if t] for i, txt in texts.items()
    }
    windows = {
        i: [tuple(ts[j : j + size]) for j in range(len(ts) - size + 1)]
        for i, ts in toks.items()
    }
    docs_of = {}
    for i, ws in windows.items():
        for w in set(ws):
            docs_of.setdefault(w, set()).add(i)
    out = {}
    for i, ts in toks.items():
        covered = set()
        for j, w in enumerate(windows[i]):
            if len(docs_of[w]) >= 2:
                covered.update(range(j, j + size))
        kept = [t for k, t in enumerate(ts) if k not in covered]
        out[i] = (" ".join(kept), len(ts), len(covered))
    return out


@settings(max_examples=10, deadline=None)
@given(
    docs_words=st.lists(
        st.lists(
            st.sampled_from(["alpha", "beta", "gamma", "delta"]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_remove_duplicated_spans_matches_reference(spark, docs_words):
    size = 3
    texts = {i: " ".join(ws) for i, ws in enumerate(docs_words)}
    df = spark.createDataFrame(
        list(texts.items()), "doc_id LONG, text STRING"
    )
    got = {
        r["doc_id"]: (r["clean_text"], r["n_tokens"], r["n_removed"])
        for r in D.remove_duplicated_spans(df, size=size).collect()
    }
    assert got == _ref_remove_spans(texts, size)
