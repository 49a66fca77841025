"""Property-based tests (hypothesis): the Catalyst expression builders must
agree with straightforward pure-Python reference implementations on
arbitrary inputs — the invariant that makes the DuckDB oracles trustworthy.

Strategy: generate small token lists / texts, run the Spark expression once
per example batch (collected into a single DataFrame for speed), compare
element-wise against Python.
"""

from __future__ import annotations

import hashlib
import re

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from komodo_data_spark.functions import text_features as TF

# lowercase word tokens, no whitespace inside
token = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=8
)
texts = st.lists(token, min_size=0, max_size=12).map(" ".join)


def py_tokens(text: str) -> list[str]:
    t = text.strip().lower()
    return re.split(r"\s+", t) if True else []


def py_shingles(toks: list[str], n: int = 3) -> list[str]:
    if len(toks) < n:
        return []
    seen, out = set(), []
    for i in range(len(toks) - n + 1):
        s = " ".join(toks[i : i + n])
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def py_minhash(sh: list[str], seed: int) -> str | None:
    if not sh:
        return None
    return min(hashlib.md5(f"h{seed}|{s}".encode()).hexdigest() for s in sh)


def py_simhash(toks: list[str], bits: int = 16) -> int:
    distinct = list(dict.fromkeys(toks))
    out = 0
    for k in range(bits):
        ones = sum(
            int(hashlib.md5(t.encode()).hexdigest()[k], 16) % 2
            for t in distinct
        )
        if ones * 2 > len(distinct):
            out += 1 << k
    return out


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(texts, min_size=1, max_size=8))
def test_shingle_minhash_simhash_match_python(spark, batch):
    df = spark.createDataFrame([(t,) for t in batch], "text string")
    rows = df.select(
        "text",
        TF.shingles(TF.tokens(), 3).alias("sh"),
        TF.minhash(TF.shingles(TF.tokens(), 3), 7).alias("mh"),
        TF.simhash(TF.tokens(), 16).alias("simh"),
    ).collect()
    for r in rows:
        toks = py_tokens(r["text"])
        assert r["sh"] == py_shingles(toks)
        assert r["mh"] == py_minhash(py_shingles(toks), 7)
        assert r["simh"] == py_simhash(toks, 16)

    # the batch SimHash kernel at 32 bits over the same distinct tokens;
    # a doc without tokens has no signature row
    from komodo_data_spark.operators.dedup import simhash_sig
    from komodo_data_spark.plans import exploded

    docs = spark.createDataFrame(list(enumerate(batch)), "doc_id long, text string")
    posts = exploded(docs, F.array_distinct(TF.tokens()), "t", "doc_id")
    got = {r["doc_id"]: r["simhash"] for r in simhash_sig(posts, "t", 32).collect()}
    want = {
        i: py_simhash(py_tokens(t), 32) for i, t in enumerate(batch) if py_tokens(t)
    }
    assert got == want


@given(st.lists(texts, min_size=1, max_size=8))
@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exploded_equals_plain_explode(spark, batch):
    """plans.exploded must emit exactly the rows plain F.explode would, for
    arbitrary texts (including empty/short docs that yield empty shingle
    arrays) — the perf fix must never change semantics."""
    from komodo_data_spark.plans import exploded

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(batch)], "doc_id long, text string"
    )
    arr = TF.shingles(TF.tokens(), 3)
    plain = (
        df.select("doc_id", F.explode(arr).alias("g")).collect()
    )
    helper = exploded(df, arr, "g", "doc_id").collect()
    assert sorted((r.doc_id, r.g) for r in plain) == sorted(
        (r.doc_id, r.g) for r in helper
    )


def test_weighted_sample_prefers_heavy_docs(spark, sf_dir):
    """Efraimidis–Spirakis sanity: the char-weighted sample's mean doc
    length must exceed the corpus mean (heavier docs are more likely), and
    repeated runs must return the identical set (determinism)."""
    from komodo_data_spark.operators.pipeline_ops import docs_weighted_sample
    from komodo_data_spark.sources.tables import load_table

    s1 = docs_weighted_sample(spark, sf_dir).toPandas()
    s2 = docs_weighted_sample(spark, sf_dir).toPandas()
    assert sorted(s1["doc_id"]) == sorted(s2["doc_id"])
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert s1["n_chars"].mean() > corpus_mean


def py_dup_spans(docs: dict[int, list[str]], k: int = 5):
    """Reference implementation of dedup_substring_spans on token lists."""
    grams: dict[str, set[int]] = {}
    pos_grams: dict[int, list[tuple[int, str]]] = {}
    for did, toks in docs.items():
        pg = []
        for i in range(len(toks) - k + 1):
            g = " ".join(toks[i : i + k])
            grams.setdefault(g, set()).add(did)
            pg.append((i + 1, g))  # 1-based
        pos_grams[did] = pg
    dup = {g for g, ds in grams.items() if len(ds) >= 2}
    spans = {}
    for did, pg in pos_grams.items():
        hits = sorted({p for p, g in pg if g in dup})
        cur = []
        for p in hits:
            if cur and p <= cur[-1] + k:
                cur.append(p)
            else:
                if cur:
                    spans.setdefault(did, []).append(cur)
                cur = [p]
        if cur:
            spans.setdefault(did, []).append(cur)
    out = set()
    for did, islands in spans.items():
        for isl in islands:
            out.add((did, isl[0], isl[-1] + k - 1, isl[-1] + k - isl[0], len(isl)))
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=14
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_substring_spans_match_python(spark, token_lists):
    """dedup_substring_spans == the pure-Python reference on arbitrary tiny
    corpora (small alphabet => plenty of cross-doc collisions)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators import dedup as D

    docs = {i: toks for i, toks in enumerate(token_lists)}
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": [" ".join(t) for t in docs.values()],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [0] * len(docs),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (
                r["doc_id"],
                r["span_start"],
                r["span_end"],
                r["span_tokens"],
                r["n_dup_grams"],
            )
            for r in D.dedup_substring_spans(spark, tmp).collect()
        }
    # NB: empty token lists tokenize to [''] in both engines; harmless for
    # k=5 grams (too short to emit any)
    exp = py_dup_spans(
        {i: (t if t else [""]) for i, t in docs.items()}, D.SPAN_GRAM
    )
    assert got == exp


@given(
    docs_spec=st.lists(
        st.tuples(
            st.sampled_from(["sA", "sB", "sC"]),        # source
            st.integers(min_value=1, max_value=12),     # n tokens in doc
        ),
        min_size=1,
        max_size=25,
    ),
    budget_a=st.integers(min_value=0, max_value=40),
    budget_default=st.integers(min_value=0, max_value=40),
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_token_budget_twostage_equals_window_form(
    spark, docs_spec, budget_a, budget_default, monkeypatch, tmp_path_factory
):
    """The bucketed two-stage scale path must admit EXACTLY the docs the
    global-window form admits, for arbitrary corpora and budgets — the
    property the shared oracle can only spot-check at fixed constants."""
    import os

    import pandas as pd

    from komodo_data_spark.operators import pipeline_ops as P

    monkeypatch.setattr(P, "MIX_TOKEN_BUDGETS", {"sA": budget_a})
    monkeypatch.setattr(P, "MIX_DEFAULT_BUDGET", budget_default)

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs_spec)),
            "text": [" ".join(["tok"] * n) for _, n in docs_spec],
            "lang": ["en"] * len(docs_spec),
            "source": [s for s, _ in docs_spec],
            "n_chars": [0] * len(docs_spec),
        }
    )
    sf = str(tmp_path_factory.mktemp("mix_prop"))
    pdf.to_parquet(os.path.join(sf, "documents.parquet"))

    def rows(df):
        return {
            (r["source"], r["budget_tokens"], r["n_docs_kept"], r["n_tokens_kept"])
            for r in df.collect()
        }

    assert rows(P.docs_token_budget_mix(spark, sf)) == rows(
        P.docs_token_budget_mix_twostage(spark, sf)
    )


def py_block_scrub(docs: dict[int, list[str]], b: int) -> dict[int, tuple]:
    """Pure-Python reference of dedup_repeated_blocks: keep-first (by
    (doc_id, pos)) among corpus-repeated non-overlapping b-token blocks;
    reassemble kept blocks + sub-block tail."""
    occ: dict[str, list[tuple[int, int]]] = {}
    blocks: dict[int, list[str]] = {}
    for did in sorted(docs):
        toks = docs[did]
        blocks[did] = [
            " ".join(toks[i : i + b]) for i in range(0, len(toks) - b + 1, b)
        ]
        for pos, blk in enumerate(blocks[did]):
            occ.setdefault(blk, []).append((did, pos))
    keeper = {
        blk: min(where) for blk, where in occ.items() if len(where) >= 2
    }
    out = {}
    for did in sorted(docs):
        toks = docs[did]
        n_blocks = len(blocks[did])
        kept = [
            blk
            for pos, blk in enumerate(blocks[did])
            if blk not in keeper or keeper[blk] == (did, pos)
        ]
        tail = " ".join(toks[n_blocks * b :])
        clean = (" ".join(kept) + " " + tail).strip()
        out[did] = (n_blocks, n_blocks - len(kept), len(clean))
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=26
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_repeated_blocks_match_python(spark, token_lists):
    """dedup_repeated_blocks == the pure-Python keep-first reference on
    arbitrary tiny corpora (3-letter alphabet + docs spanning 0..3 full
    blocks => plenty of cross-doc and within-doc block collisions, plus
    zero-block and tail-only docs)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators import dedup as D

    docs = {i: (t if t else [""]) for i, t in enumerate(token_lists)}
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": [" ".join(t) for t in docs.values()],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [0] * len(docs),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r["doc_id"]: (r["n_blocks"], r["n_removed"], r["clean_len"])
            for r in D.dedup_repeated_blocks(spark, tmp).collect()
        }
    assert got == py_block_scrub(docs, D.BLOCK_TOKENS)


def py_tfidf_cosine_pairs(
    docs: dict[int, list[str]], cap: int, thresh: float
) -> dict[tuple[int, int], float]:
    """Pure-Python reference of text_tfidf_cosine_pairs: rare-3-shingle
    candidates, full unigram TF-IDF dot product, smooth idf."""
    import math

    n_docs = len(docs)
    tf: dict[int, dict[str, int]] = {}
    for did, toks in docs.items():
        tf[did] = {}
        for t in toks:
            tf[did][t] = tf[did].get(t, 0) + 1
    df: dict[str, int] = {}
    for did in docs:
        for t in tf[did]:
            df[t] = df.get(t, 0) + 1
    w = {
        did: {
            t: c * (math.log((n_docs + 1.0) / (df[t] + 1.0)) + 1.0)
            for t, c in tf[did].items()
        }
        for did in docs
    }
    norm = {
        did: math.sqrt(sum(x * x for x in w[did].values())) for did in docs
    }
    sh_docs: dict[str, set[int]] = {}
    for did, toks in docs.items():
        for s in py_shingles(toks, 3):
            sh_docs.setdefault(s, set()).add(did)
    cand = set()
    for s, members in sh_docs.items():
        if len(members) <= cap:
            for i in members:
                for j in members:
                    if i < j:
                        cand.add((i, j))
    out = {}
    for i, j in cand:
        dot = sum(w[i][t] * w[j][t] for t in w[i] if t in w[j])
        if norm[i] and norm[j]:
            cos = dot / (norm[i] * norm[j])
            if cos >= thresh:
                out[(i, j)] = cos
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=3, max_size=12
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_tfidf_cosine_pairs_match_python(spark, token_lists):
    """text_tfidf_cosine_pairs == the pure-Python reference: same candidate
    set (rare-shingle cap), same surviving pairs, cosines equal to 1e-9.
    The tiny alphabet makes shingles collide constantly, stressing the cap
    boundary (df == cap vs df == cap+1)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators import text_analysis as T

    docs = {i: t for i, t in enumerate(token_lists)}
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": [" ".join(t) for t in docs.values()],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [0] * len(docs),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r["doc_i"], r["doc_j"]): r["cosine"]
            for r in T.text_tfidf_cosine_pairs(spark, tmp).collect()
        }
    exp = py_tfidf_cosine_pairs(
        docs, T.TFIDF_PAIR_DF_CAP, T.TFIDF_COS_THRESHOLD
    )
    assert set(got) == set(exp)
    for pair, cos in exp.items():
        assert abs(got[pair] - cos) < 1e-9


# --------------------------------------------------------------------------
# PII pattern bank: Spark (Java regex) == Python re on adversarial mixes
# --------------------------------------------------------------------------

from komodo_data_spark.operators import pipeline_ops as PO

_pii_real = st.sampled_from(
    [
        "bob.smith@example.com",
        "x+tag@sub.domain.org",
        "A_1%b-c@h-o.st.io",
        "555-123-4567",
        "800.555.0199",
        "10.0.0.1",
        "192.168.255.254",
    ]
)
_pii_near_miss = st.sampled_from(
    [
        "a@b",            # no TLD
        "user@domain.c",  # 1-char TLD
        "12.34",          # not 4 octets
        "555-12-3456",    # 3-2-4, not 3-3-4
        "1234-567-8901x", # no trailing boundary
        "not.an.email",
        "555-123-456789",
    ]
)
_pii_fragment = st.one_of(token, _pii_real, _pii_near_miss)


def _py_pii_counts(text: str) -> tuple[int, int, int]:
    return (
        len(re.findall(PO._PII_EMAIL, text)),
        len(re.findall(PO._PII_PHONE, text)),
        len(re.findall(PO._PII_IPV4, text)),
    )


def _py_pii_redact(text: str) -> str:
    out = re.sub(PO._PII_EMAIL, "[EMAIL]", text)
    out = re.sub(PO._PII_PHONE, "[PHONE]", out)
    return re.sub(PO._PII_IPV4, "[IP]", out)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(_pii_fragment, min_size=1, max_size=16).map(" ".join))
def test_pii_patterns_match_python_and_redaction_is_idempotent(spark, text):
    """The pattern bank behaves identically under Java regex (Spark) and
    Python re on mixes of real PII, near-misses, and noise — including
    interactions like an email whose local part looks like a phone number
    (redaction order must agree). Redacting an already-redacted text is a
    no-op (placeholders never re-match any pattern)."""
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        F.size(F.regexp_extract_all("t", F.lit(PO._PII_EMAIL), 0)).alias("e"),
        F.size(F.regexp_extract_all("t", F.lit(PO._PII_PHONE), 0)).alias("p"),
        F.size(F.regexp_extract_all("t", F.lit(PO._PII_IPV4), 0)).alias("i"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("t", PO._PII_EMAIL, "[EMAIL]"),
                PO._PII_PHONE,
                "[PHONE]",
            ),
            PO._PII_IPV4,
            "[IP]",
        ).alias("r"),
    ).collect()[0]
    assert (row["e"], row["p"], row["i"]) == _py_pii_counts(text)
    expect = _py_pii_redact(text)
    assert row["r"] == expect
    assert _py_pii_redact(expect) == expect  # idempotent


# --------------------------------------------------------------------------
# Gopher rule-flag statistics vs a pure-Python reference
# --------------------------------------------------------------------------

from collections import Counter

from komodo_data_spark.operators import text_analysis as TA


def _py_rule_flags(text: str) -> dict:
    toks = py_tokens(text)
    counts = Counter(toks)
    n = sum(counts.values())
    mean_len = sum(len(t) * c for t, c in counts.items()) / n
    n_stop = sum(1 for t in counts if t in TF.QUALITY_STOPWORDS)
    alpha = sum(c for t, c in counts.items() if any(ch.isalpha() for ch in t)) / n
    top_share = max(counts.values()) / n
    return {
        "n_words": n,
        "word_count_ok": TA.GOPHER_MIN_WORDS <= n <= TA.GOPHER_MAX_WORDS,
        "mean_word_len_ok": TA.GOPHER_MIN_MEAN_LEN
        <= mean_len
        <= TA.GOPHER_MAX_MEAN_LEN,
        "stopword_ok": n_stop >= TA.GOPHER_MIN_STOP_DISTINCT,
        "alpha_ok": alpha >= TA.GOPHER_MIN_ALPHA_RATIO,
        "repetition_ok": top_share <= TA.GOPHER_MAX_TOP_SHARE,
    }


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.one_of(token, st.sampled_from(TF.QUALITY_STOPWORDS + ["42", "x"])),
            min_size=1,
            max_size=40,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    )
)
def test_quality_rule_flags_match_python(spark, tmp_path_factory, texts):
    import os

    import pandas as pd

    d = tmp_path_factory.mktemp("rf")
    pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(str(d), "documents.parquet"))
    got = {
        r["doc_id"]: r.asDict()
        for r in TA.text_quality_rule_flags(spark, str(d)).collect()
    }
    for i, text in enumerate(texts, start=1):
        expect = _py_rule_flags(text)
        row = got[i]
        for k, v in expect.items():
            assert row[k] == v, (k, text, row, expect)
        assert row["keep"] == all(
            expect[f] for f in expect if f.endswith("_ok")
        )


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(0, 15), st.integers(0, 15)),
        min_size=1,
        max_size=20,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_cc_star_matches_union_find(spark, edge_list):
    """The O(log n) large-star/small-star component labeling (backing
    dedup_clusters_star, graph_components, and docs_split_by_cluster)
    must agree with a plain union-find on arbitrary small graphs —
    including shapes label propagation converges slowly on (paths,
    stars, disjoint mixes)."""
    from komodo_data_spark.operators.pipeline_ops import _cc_star

    undirected = [(a, b) for a, b in edge_list if a != b]
    sym = undirected + [(b, a) for a, b in undirected]
    edges = spark.createDataFrame(sym, "src long, dst long")
    labels, _rounds = _cc_star(edges)
    got = {r["node"]: r["label"] for r in labels.collect()}

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in undirected:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp: dict[int, list[int]] = {}
    for n in {v for e in undirected for v in e}:
        comp.setdefault(find(n), []).append(n)
    exp = {n: min(members) for members in comp.values() for n in members}
    assert got == exp


def py_containment(
    docs: dict[int, list[str]], cap: int, thresh: float
) -> dict[tuple[int, int], tuple[float, float]]:
    """Pure-Python reference of dedup_containment_pairs: distinct
    3-shingle sets, rare-shingle (df <= cap) candidates, containment in
    both directions, kept when the max reaches the threshold."""
    sets = {did: set(py_shingles(toks, 3)) for did, toks in docs.items()}
    df: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            df[g] = df.get(g, 0) + 1
    cand = set()
    for did_i, si in sets.items():
        for did_j, sj in sets.items():
            if did_i < did_j and any(
                g in sj and df[g] <= cap for g in si
            ):
                cand.add((did_i, did_j))
    out = {}
    for i, j in cand:
        common = len(sets[i] & sets[j])
        if not sets[i] or not sets[j]:
            continue
        ci, cj = common / len(sets[i]), common / len(sets[j])
        if max(ci, cj) >= thresh:
            out[(i, j)] = (ci, cj)
    return out


@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=0, max_size=10
        ),
        min_size=2,
        max_size=6,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_containment_pairs_match_python(spark, token_lists):
    """dedup_containment_pairs == the pure-Python reference on arbitrary
    tiny corpora (3-letter alphabet => heavy shingle sharing exercises the
    df-cap; short docs exercise the empty-shingle-set edge)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators import dedup as D

    docs = {i: t for i, t in enumerate(token_lists)}
    pdf = pd.DataFrame(
        {
            "doc_id": list(docs),
            "text": [" ".join(t) if t else "" for t in docs.values()],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [0] * len(docs),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            (r["doc_i"], r["doc_j"]): (r["cont_i_in_j"], r["cont_j_in_i"])
            for r in D.dedup_containment_pairs(spark, tmp).collect()
        }
    exp = py_containment(docs, D.NGRAM_DF_CAP, D.CONTAINMENT_THRESHOLD)
    assert set(got) == set(exp)
    for k, (ci, cj) in exp.items():
        assert abs(got[k][0] - ci) < 1e-12 and abs(got[k][1] - cj) < 1e-12


def py_transcripts(rows, gap_ms):
    """Pure-Python reference of events_session_transcripts: per user, order
    by (ts, event_id), break when the gap exceeds gap_ms, join types."""
    out = {}
    by_user: dict[int, list[tuple[int, int, str]]] = {}
    for eid, ts, uid, typ in rows:
        by_user.setdefault(uid, []).append((ts, eid, typ))
    for uid, evs in by_user.items():
        evs.sort()
        seq, prev = 0, None
        sessions: dict[int, list[tuple[int, int, str]]] = {}
        for ts, eid, typ in evs:
            if prev is not None and ts - prev > gap_ms:
                seq += 1
            sessions.setdefault(seq, []).append((ts, eid, typ))
            prev = ts
        for s, items in sessions.items():
            out[(uid, s)] = (
                len(items),
                len({t for _, _, t in items}),
                min(ts for ts, _, _ in items),
                max(ts for ts, _, _ in items) - min(ts for ts, _, _ in items),
                ">".join(t for _, _, t in items),
            )
    return out


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4_000_000),  # ts_ms
            st.integers(min_value=1, max_value=2),  # user
            st.sampled_from(["a", "b", "c"]),  # type
        ),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_session_transcripts_match_python(spark, evs):
    """events_session_transcripts == the pure-Python gap-and-island
    reference on arbitrary tiny event sets — duplicate timestamps (tie
    broken by event_id) and >30-min gaps both arise from the generator."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from komodo_data_spark.operators.sessions import (
        SESSION_GAP_MS,
        events_session_transcripts,
    )

    rows = [(i + 1, ts, uid, typ) for i, (ts, uid, typ) in enumerate(evs)]
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [r[1] * 1_000_000 for r in rows], pa.timestamp("ns")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pq.write_table(table, os.path.join(tmp, "events.parquet"))
        got = {
            (r["user_id"], r["session_seq"]): (
                r["n_turns"], r["n_types"], r["start_ms"],
                r["duration_ms"], r["transcript"],
            )
            for r in events_session_transcripts(spark, tmp).collect()
        }
    assert got == py_transcripts(rows, SESSION_GAP_MS)


def _py_lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, start=1):
        cur = [i]
        for j, cb in enumerate(b, start=1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=3),
            min_size=0,
            max_size=6,
        ).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
def test_fuzzy_prefix_passjoin_is_complete(spark, tmp_path_factory, texts):
    """PassJoin candidate generation (dedup_fuzzy_prefix) must be COMPLETE
    for the edit-distance threshold: over a tiny two-letter alphabet
    (maximal near-collision density, length diffs spanning the ±k band,
    empty titles included) the surfaced pairs equal ALL unordered pairs
    of titles within levenshtein <= FUZZY_MAX_DIST computed by a plain
    full-DP reference — a missed pigeonhole window or an off-by-one in
    the segment layout loses pairs silently otherwise."""
    import os

    import pandas as pd

    from komodo_data_spark.operators.dedup import (
        FUZZY_MAX_DIST,
        FUZZY_PREFIX_TOKENS,
        dedup_fuzzy_prefix,
    )

    d = tmp_path_factory.mktemp("fz")
    pd.DataFrame(
        {
            "doc_id": range(1, len(texts) + 1),
            "text": texts,
            "lang": ["en"] * len(texts),
            "source": ["s"] * len(texts),
            "n_chars": [len(t) for t in texts],
        }
    ).to_parquet(os.path.join(str(d), "documents.parquet"))

    titles = {
        i: " ".join(py_tokens(t)[:FUZZY_PREFIX_TOKENS])
        for i, t in enumerate(texts, start=1)
    }
    expected = {}
    ids = sorted(titles)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            ed = _py_lev(titles[ids[x]], titles[ids[y]])
            if ed <= FUZZY_MAX_DIST:
                expected[(ids[x], ids[y])] = ed

    got = {
        (r["doc_i"], r["doc_j"]): r["edit_dist"]
        for r in dedup_fuzzy_prefix(spark, str(d)).collect()
    }
    assert got == expected


# --------------------------------------------------------------------------
# round-6 depth ops vs pure-Python references
# --------------------------------------------------------------------------


def py_skyline(pts):
    """Brute-force O(n²) Pareto front: p survives iff nobody is <= on both
    axes and < on one."""
    out = set()
    for k, x, y in pts:
        dominated = any(
            qx <= x and qy <= y and (qx < x or qy < y) for _, qx, qy in pts
        )
        if not dominated:
            out.add((k, x, y))
    return out


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),  # price grid (halves)
            st.integers(min_value=0, max_value=6),   # size grid
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_skyline_matches_python_bruteforce(spark, grid_pts):
    """part_skyline's two-stage prefix-min plan == the O(n²) dominance
    scan, for arbitrary small grids (small grids force duplicate points,
    shared axes, and bucket-boundary crossings: width 10 over prices up
    to 6.0 keeps everything in bucket 0, so scale one axis up to cross)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.tpch_extended import part_skyline

    pts = [
        (i, px * 2.5, sz)  # spread prices so some cross the width-10 line
        for i, (px, sz) in enumerate(grid_pts)
    ]
    pdf = pd.DataFrame(
        {
            "p_partkey": [p[0] for p in pts],
            "p_name": ["n"] * len(pts),
            "p_brand": ["B"] * len(pts),
            "p_type": ["T"] * len(pts),
            "p_size": pd.array([p[2] for p in pts], dtype="int32"),
            "p_retailprice": [p[1] for p in pts],
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "part.parquet"))
        got = {
            (r["p_partkey"], r["price"], r["size"])
            for r in part_skyline(spark, tmp).collect()
        }
    assert got == py_skyline(pts)


def py_ks(a_vals, b_vals):
    """Exact two-sample KS over the union of observed values."""
    xs = sorted(set(a_vals) | set(b_vals))
    na, nb = len(a_vals), len(b_vals)
    best, ca, cb = 0.0, 0, 0
    for x in xs:
        ca += sum(1 for v in a_vals if v == x)
        cb += sum(1 for v in b_vals if v == x)
        best = max(best, abs(ca / na - cb / nb))
    return best, len(xs)


@given(
    a_vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=20
    ),
    b_vals=st.lists(
        st.integers(min_value=0, max_value=50), min_size=1, max_size=20
    ),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_ks_test_matches_python(spark, a_vals, b_vals):
    """events_ks_test's bucketed two-stage CDF == the direct Python sweep
    for arbitrary integer-grid samples (range 0..50 spans several width-16
    buckets, so the cross-bucket prefix handoff is exercised)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.stats_ops import (
        KS_GROUP_A,
        KS_GROUP_B,
        events_ks_test,
    )

    rows = [(KS_GROUP_A, float(v)) for v in a_vals] + [
        (KS_GROUP_B, float(v)) for v in b_vals
    ]
    pdf = pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": pd.to_datetime(
                [1_700_000_000_000 + i for i in range(len(rows))], unit="ms"
            ),
            "user_id": [1] * len(rows),
            "event_type": [r[0] for r in rows],
            "value": [r[1] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "events.parquet"))
        r = events_ks_test(spark, tmp).collect()[0]
    exp_d, exp_pts = py_ks(a_vals, b_vals)
    assert r["n_a"] == len(a_vals) and r["n_b"] == len(b_vals)
    assert r["n_points"] == exp_pts
    assert abs(r["ks_stat"] - exp_d) < 1e-12


def py_lpa(edges, rounds=3):
    """Synchronous label propagation, mode-of-neighbors with
    (count desc, label asc) tie-break."""
    from collections import Counter

    nbrs = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    lbl = {n: n for n in nbrs}
    for _ in range(rounds):
        nxt = {}
        for n, ns in nbrs.items():
            c = Counter(lbl[m] for m in ns)
            nxt[n] = min(c, key=lambda l: (-c[l], l))
        lbl = nxt
    return lbl


@given(
    st.sets(
        st.tuples(
            st.integers(min_value=1, max_value=8),
            st.integers(min_value=1, max_value=8),
        ).map(lambda t: (min(t), max(t))).filter(lambda t: t[0] != t[1]),
        min_size=1,
        max_size=12,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_lpa_matches_python_simulation(spark, edges):
    """graph_communities_lpa == the Python synchronous simulation of the
    same update rule on arbitrary small graphs (staged as one copresence
    second per edge)."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.graph_ops import graph_communities_lpa

    rows = []
    eid = 0
    for sec, (u, v) in enumerate(sorted(edges), start=1):
        for user, val in ((u, 1.0), (v, 2.0)):
            eid += 1
            rows.append((eid, sec * 1000, user, val))
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime([r[1] for r in rows], unit="ms"),
            "user_id": [r[2] for r in rows],
            "event_type": ["view"] * len(rows),
            "value": [r[3] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "events.parquet"))
        got = {
            r["user_id"]: r["community"]
            for r in graph_communities_lpa(spark, tmp).collect()
        }
    assert got == py_lpa(sorted(edges))


def py_quality_keep(docs, q=(7, 10)):
    """Per-source keep set under the exact kth-order-statistic rule the
    engine defines (quantiles.exact_group_quantiles): bracket ranks chosen
    in INTEGER arithmetic — k_lo = ((n-1)·num) div den — then one double
    interpolation, so the Python reference can never ulp-diverge from the
    engine on the rank position."""
    from collections import defaultdict

    num, den = q

    def qscore(toks):
        n = len(toks)
        ttr = len(set(toks)) / n
        return min(n / 100.0, 1.0) * (0.5 + 0.5 * ttr)

    by_src = defaultdict(list)
    scores = {}
    for doc_id, toks, src in docs:
        s = qscore(toks)
        scores[doc_id] = (src, s)
        by_src[src].append(s)
    thr = {}
    for src, vals in by_src.items():
        vals.sort()
        pos_num = (len(vals) - 1) * num
        lo, rem = divmod(pos_num, den)
        hi = lo + (1 if rem else 0)
        thr[src] = vals[lo] + (rem / den) * (vals[hi] - vals[lo])
    return {d for d, (src, s) in scores.items() if s >= thr[src]}


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["sA", "sB"]),
            st.lists(
                st.sampled_from(["a", "b", "c", "d", "e"]),
                min_size=1,
                max_size=12,
            ),
        ),
        min_size=1,
        max_size=20,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_quantile_filter_matches_python(spark, docs_spec):
    """docs_quality_quantile_filter == the Python interpolated-percentile
    reference on arbitrary tiny corpora — the tiny alphabet forces heavy
    score ties, the worst case for threshold membership."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.text_analysis import (
        docs_quality_quantile_filter,
    )

    docs = [
        (i, toks, src) for i, (src, toks) in enumerate(docs_spec)
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [d[0] for d in docs],
            "text": [" ".join(d[1]) for d in docs],
            "lang": ["en"] * len(docs),
            "source": [d[2] for d in docs],
            "n_chars": [0] * len(docs),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = {
            r["doc_id"]
            for r in docs_quality_quantile_filter(spark, tmp).collect()
        }
    assert got == py_quality_keep(docs)


def py_daily_moments(rows):
    """Direct daily stats from raw (ts_ms, value-or-None) rows."""
    from collections import defaultdict

    days = defaultdict(list)
    traffic = defaultdict(int)
    for ts_ms, v in rows:
        day = (ts_ms // 86_400_000) * 86_400_000
        traffic[day] += 1
        if v is not None:
            days[day].append(v)
    out = {}
    for day, n_events in traffic.items():
        vs = days.get(day, [])
        n = len(vs)
        out[day] = {
            "n_events": n_events,
            "n_values": n,
            "sum_value": sum(vs) if n else None,
            "min_value": min(vs) if n else None,
            "max_value": max(vs) if n else None,
            "mean_value": sum(vs) / n if n else None,
            "var_pop_value": (
                sum(x * x for x in vs) / n - (sum(vs) / n) ** 2 if n else None
            ),
        }
    return out


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3 * 86_400_000 - 1),  # ts_ms
            st.one_of(
                st.none(),
                st.integers(min_value=-50, max_value=50).map(float),
            ),
        ),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_rollup_merge_matches_python_direct(spark, rows):
    """events_rollup_merge (hourly partials folded to days) == the direct
    Python daily computation, for arbitrary timestamps across 3 days,
    NULL values included — the algebraic-mergeability property on inputs
    the hand pin can't enumerate."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.timeseries import events_rollup_merge

    pdf = pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": pd.to_datetime([r[0] for r in rows], unit="ms").astype(
                "datetime64[us]"
            ),
            "user_id": [1] * len(rows),
            "event_type": ["view"] * len(rows),
            "value": [r[1] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "events.parquet"))
        got = {r["day_ms"]: r for r in events_rollup_merge(spark, tmp).collect()}
    exp = py_daily_moments(rows)
    assert set(got) == set(exp)
    for day, e in exp.items():
        g = got[day]
        assert g["n_events"] == e["n_events"] and g["n_values"] == e["n_values"]
        for c in ("sum_value", "min_value", "max_value", "mean_value",
                  "var_pop_value"):
            if e[c] is None:
                assert g[c] is None, (day, c)
            else:
                assert abs(g[c] - e[c]) < 1e-9, (day, c)


def py_cusum_changepoint(rows):
    """Pure-Python CUSUM localization mirroring the engine's exact op
    order: daily (sum, n) partials in day order, grand mean once, running
    sum of deviations, arg-max |cusum| with earliest-day tie-break.
    Returns (cp_day_ms, cusum_at_cp, n_days)."""
    from collections import defaultdict

    DAY = 86_400_000
    daily = defaultdict(lambda: [0.0, 0])
    for ts_ms, v in rows:
        d = (ts_ms // DAY) * DAY
        daily[d][0] += v
        daily[d][1] += 1
    tot_s = sum(s for s, _ in daily.values())
    tot_n = sum(n for _, n in daily.values())
    mu = tot_s / tot_n
    best = None
    cusum = 0.0
    for day in sorted(daily):
        s, n = daily[day]
        cusum += s - n * mu
        key = (abs(cusum), -day)
        if best is None or key > best[0]:
            best = (key, day, cusum)
    return best[1], best[2], len(daily)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=4 * 86_400_000 - 1),  # ts_ms
            st.integers(min_value=-50, max_value=50),  # integer-valued
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_cusum_changepoint_matches_python(spark, rows):
    """events_cusum_changepoint == the direct Python CUSUM on arbitrary
    rows across 4 days. Integer values make every partial sum exactly
    representable, so the comparison is exact (the one division — the
    grand mean — is performed identically on both sides), including the
    arg-max day under the earliest-day tie-break that symmetric integer
    data actually exercises."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.stats_ops import events_cusum_changepoint

    pdf = pd.DataFrame(
        {
            "event_id": range(1, len(rows) + 1),
            "ts": pd.to_datetime([r[0] for r in rows], unit="ms").astype(
                "datetime64[us]"
            ),
            "user_id": [1] * len(rows),
            "event_type": ["view"] * len(rows),
            "value": [float(r[1]) for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "events.parquet"))
        out = events_cusum_changepoint(spark, tmp).collect()
    assert len(out) == 1
    got = out[0]
    cp_day, cusum_at, n_days = py_cusum_changepoint(rows)
    assert got["cp_day_ms"] == cp_day
    assert got["n_days"] == n_days
    assert abs(got["cusum_at_cp"] - cusum_at) < 1e-9
    assert abs(got["max_abs_cusum"] - abs(cusum_at)) < 1e-9


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(min_value=-20, max_value=20),  # heavy ties
        ),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from([(7, 10), (9, 10), (1, 3), (2, 3), (1, 2), (0, 1), (1, 1)]),
)
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_exact_group_quantiles_matches_python(spark, rows, frac):
    """exact_group_quantiles == the integer-bracket reference rule EXACTLY
    on arbitrary integer-valued groups with heavy ties, for dyadic AND
    non-dyadic fractions including the 0/1 edges — the engine-exactness
    property all five quantile consumers (quality filter, band, terciles,
    RFM quintiles, histogram percentiles) rest on. numpy agrees only to
    float tolerance: it computes the rank position (n-1)·q in floating
    point, which is precisely the cross-engine divergence the
    integer-bracket rule exists to remove (e.g. 3·(1/3) = 0.999... puts
    numpy in the wrong bracket)."""
    import numpy as np

    from komodo_data_spark.operators.quantiles import exact_group_quantiles

    num, den = frac
    df = spark.createDataFrame(
        [(g, float(v)) for g, v in rows], "grp string, val double"
    )
    got = {
        r["grp"]: r["q"]
        for r in exact_group_quantiles(
            df, ["grp"], "val", {"q": frac}
        ).collect()
    }
    by_g: dict[str, list] = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(float(v))
    assert set(got) == set(by_g)
    for g, vs in by_g.items():
        vs = sorted(vs)
        pos_num = (len(vs) - 1) * num
        lo, rem = divmod(pos_num, den)
        hi = lo + (1 if rem else 0)
        want = vs[lo] + (rem / den) * (vs[hi] - vs[lo])
        assert got[g] == want, (g, frac, got[g], want)
        np_want = float(np.quantile(np.array(vs), num / den, method="linear"))
        assert abs(got[g] - np_want) < 1e-9, (g, frac)


def py_unigram_lm(docs, maxp=3, maxw=16, em=2, scale=1_000_000, top=50):
    """Pure-Python mirror of the unigram-LM trainer: same seed counts,
    same integer micro-nat quantization (half-away rounding, matching
    Spark's ROUND), same (score, last-piece-length) Viterbi tie-break,
    same Laplace M-step. Returns [(rank, piece, n_uses, score_q)]."""
    import math
    from collections import Counter

    NEG = -(10**15)

    def q(x):
        v = x * scale
        return int(math.floor(v + 0.5)) if v >= 0 else -int(
            math.floor(-v + 0.5)
        )

    words = Counter()
    for toks in docs:
        for w in toks:
            if 1 <= len(w) <= maxw:
                words[w] += 1
    seed = Counter()
    for w, c in words.items():
        for l in range(1, maxp + 1):
            for s in range(len(w) - l + 1):
                seed[w[s : s + l]] += c
    tot0 = sum(seed.values())
    scores = {p: q(math.log(c / tot0)) for p, c in seed.items()}

    def viterbi(w):
        dp = [(0, 0, [])]  # (sc, l, ps)
        for i in range(1, len(w) + 1):
            cands = []
            for j in range(max(0, i - maxp), i):
                piece = w[j:i]
                sc = dp[j][0] + scores.get(piece, NEG)
                cands.append((sc, i - j, dp[j][2] + [piece]))
            dp.append(max(cands, key=lambda c: (c[0], c[1])))
        return dp[len(w)]

    uses = Counter()
    for _ in range(em):
        uses = Counter()
        for w, c in words.items():
            sc, _l, ps = viterbi(w)
            if sc > NEG // 2:
                for p in ps:
                    uses[p] += c
        tot = sum(uses.values())
        scores = {
            p: q(math.log((uses.get(p, 0) + 1) / (tot + len(seed))))
            for p in seed
        }
    ranked = sorted(
        ((p, n) for p, n in uses.items() if n > 0),
        key=lambda t: (-t[1], t[0]),
    )[:top]
    return [
        (i + 1, p, n, scores[p]) for i, (p, n) in enumerate(ranked)
    ]


@given(
    st.lists(
        st.lists(
            st.text(alphabet="ab", min_size=1, max_size=6),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=8,
    )
)
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_unigram_lm_matches_python_em(spark, docs):
    """text_unigram_lm == the pure-Python Viterbi-EM mirror on arbitrary
    tiny two-letter corpora — the 2-char alphabet forces maximal piece
    sharing and score ties, the worst case for the integer tie-break the
    quantized scores exist to make deterministic."""
    import os
    import tempfile

    import pandas as pd

    from komodo_data_spark.operators.text_analysis import text_unigram_lm

    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "text": [" ".join(toks) for toks in docs],
            "lang": ["en"] * len(docs),
            "source": ["s"] * len(docs),
            "n_chars": [0] * len(docs),
        }
    )
    with tempfile.TemporaryDirectory() as tmp:
        pdf.to_parquet(os.path.join(tmp, "documents.parquet"))
        got = [
            (r["rank"], r["piece"], r["n_uses"], r["score_q"])
            for r in text_unigram_lm(spark, tmp).collect()
        ]
    assert got == py_unigram_lm(docs)
