from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bitcoinpagerank_spark.functions.text import HASH_P, token_dictionary
from bitcoinpagerank_spark.operators.dedup import (
    doc_token_ids,
    embedding_neardup_pairs,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_coeffs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

DOCS = [
    (1, "the cat sat on the mat today"),
    (2, "the cat sat on the mat today"),          # exact dup of 1
    (3, "the cat sat on the mat yesterday"),      # near dup of 1
    (4, "completely different words entirely here now"),
    (5, "the dog sat on the mat today"),          # near dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.fixture(scope="module")
def tids(spark, docs):
    return doc_token_ids(docs, dictionary=token_dictionary(docs)).persist()


def test_exact_dedup(spark, docs):
    out = {r["keeper_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out == {1: 2, 3: 1, 4: 1, 5: 1}


def test_doc_token_ids_order(spark, docs, tids):
    d = {r["token"]: r["tid"] for r in token_dictionary(docs).collect()}
    row = {r["id"]: r["tids"] for r in tids.collect()}
    assert row[1] == [d[t] for t in "the cat sat on the mat today".split()]


def test_minhash_matches_python(spark, docs, tids):
    k = 8
    sig = minhash_signatures(tids, k=k).collect()
    rows = {r["id"]: [r[f"mh_{i+1}"] for i in range(k)] for r in sig}
    tid_map = {r["id"]: set(r["tids"]) for r in tids.collect()}
    for doc_id, tset in tid_map.items():
        want = [
            min((a * t + b) % HASH_P for t in tset)
            for a, b in minhash_coeffs(k)
        ]
        assert rows[doc_id] == want, doc_id


def test_exact_dups_always_lsh_candidates(spark, tids):
    sig = minhash_signatures(tids, k=16)
    pairs = {
        (r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig, bands=4).collect()
    }
    assert (1, 2) in pairs  # identical docs collide on every band
    # near-dups share most minhashes → usually some band
    assert (1, 3) in pairs or (1, 5) in pairs
    with pytest.raises(ValueError, match="divide evenly"):
        lsh_candidate_pairs(sig, bands=5)  # 16 % 5 != 0


def test_simhash_identical_and_distance(spark, tids):
    sh = {r["id"]: r["simhash"] for r in simhash(tids).collect()}
    assert sh[1] == sh[2]  # identical docs → identical simhash
    ham_near = bin(sh[1] ^ sh[3]).count("1")
    ham_far = bin(sh[1] ^ sh[4]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated


def test_ngram_jaccard(spark, tids):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(tids, threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)
    # doc1 vs doc3: tokens differ only in last word; 5 shingles each, 4 shared
    assert pairs[(1, 3)] == pytest.approx(4 / 6)
    assert (1, 4) not in pairs  # no shared shingles


def test_embedding_neardup(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),
        (3, [0.0, 1.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {
        (r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(emb, threshold=0.95).collect()
    }
    assert pairs == {(1, 2)}


def test_lsh_neardup_subset_of_brute_force(spark):
    """Scale path contract: lsh_neardup_pairs returns a subset of the
    brute-force pairs with identical cosine scores, and catches every
    true near-duplicate whose vectors land in a shared bucket. On the
    driver testdata embeddings the recall at threshold 0.35 is > 0."""
    from bitcoinpagerank_spark.operators.dedup import lsh_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_neardup_pairs(emb, threshold=0.35).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in lsh_neardup_pairs(
            emb, dim=64, threshold=0.35, bits=4, num_tables=2
        ).collect()
    }
    assert lsh, "LSH near-dup found nothing on testdata"
    assert set(lsh) <= set(brute)
    for pair, cos in lsh.items():
        assert cos == pytest.approx(brute[pair], abs=1e-12)
    # more tables can only add candidates (monotone recall)
    lsh4 = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(
            emb, dim=64, threshold=0.35, bits=4, num_tables=4
        ).collect()
    }
    assert set(lsh) <= lsh4 <= set(brute)


def test_simhash_neardup_pairs_complete_vs_bruteforce(spark, tids):
    """Pigeonhole completeness: block-bucketed candidates must find EVERY
    pair within max_hamming (4 blocks > 3 = max_hamming), with exact
    hamming distances."""
    from bitcoinpagerank_spark.operators.dedup import simhash_neardup_pairs

    sims = simhash(tids, bits=32)
    rows = {r["id"]: r["simhash"] for r in sims.collect()}
    for mh, bb in ((0, 8), (3, 8), (6, 4)):  # need bits/bb blocks > mh
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_neardup_pairs(
                sims, bits=32, max_hamming=mh, block_bits=bb
            ).collect()
        }
        want = {}
        ids = sorted(rows)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(rows[a] ^ rows[b]).count("1")
                if h <= mh:
                    want[(a, b)] = h
        assert got == want, f"max_hamming={mh} block_bits={bb}"
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_neardup_pairs(sims, bits=32, max_hamming=4, block_bits=8)
    # identical docs 1 and 2 -> hamming 0 pair always present at mh=0
    assert (1, 2) in {
        (r["id_a"], r["id_b"])
        for r in simhash_neardup_pairs(sims, max_hamming=0).collect()
    }


def test_simhash64_neardup_complete_vs_bruteforce(spark, tids):
    """64-bit pigeonhole completeness: 4 x 16-bit blocks must find EVERY
    pair within max_hamming=3, with exact two's-complement hamming."""
    from bitcoinpagerank_spark.operators.dedup import simhash_neardup_pairs

    sims = simhash(tids, bits=64)
    rows = {r["id"]: r["simhash"] for r in sims.collect()}
    M = (1 << 64) - 1
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_neardup_pairs(
            sims, bits=64, max_hamming=3, block_bits=16
        ).collect()
    }
    want = {}
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((rows[a] ^ rows[b]) & M).count("1")
            if h <= 3:
                want[(a, b)] = h
    assert got == want
    assert (1, 2) in got  # exact dups -> hamming 0


@pytest.mark.parametrize("bits", [32, 64])
def test_simhash64_matches_python(spark, tids, bits):
    """Bit-exact vs a Python reimplementation of the two-LCG scheme,
    including the signed bit-63 weight at 64 bits."""
    rows = {r["id"]: r["simhash"] for r in simhash(tids, bits=bits).collect()}
    tid_map = {r["id"]: r["tids"] for r in tids.collect()}
    for doc_id, ts in tid_map.items():
        want = 0
        for j in range(bits):
            s = 0
            for t in ts:
                if j < 32:
                    g = (t * 1_664_525 + 1_013_904_223) % 2**32
                    bit = (g >> j) & 1
                else:
                    g = (t * 1_103_515_245 + 12_345) % 2**32
                    bit = (g >> (j - 32)) & 1
                s += 1 if bit else -1
            if s > 0:
                want += -(1 << 63) if j == 63 else (1 << j)
        assert rows[doc_id] == want, doc_id


def test_ngram_jaccard_df_cap(spark, tids):
    """Default cap leaves fixture output unchanged; a low cap drops the
    heavy stop-shingle from both intersection and size sides."""
    uncapped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(tids, threshold=0.0, df_cap=None).collect()
    }
    default = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(tids, threshold=0.0).collect()
    }
    assert default == uncapped  # fixture dfs are far below the cap
    # cap=1 drops every shingle shared by >1 doc: docs 1/2 (identical)
    # lose all shingles, doc 3's uniques can't intersect anything
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(tids, threshold=0.0, df_cap=1).collect()
    }
    assert (1, 2) not in capped and (1, 3) not in capped


def test_neardup_clusters_transitive(spark):
    from bitcoinpagerank_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    # chain 1~2~3 (one cluster via transitivity), pair 5~6, 0 and 4 alone
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    rows = {r["doc_id"]: (r["canonical_id"], r["is_canonical"])
            for r in neardup_clusters(spark, docs, pairs).collect()}
    assert rows == {
        0: (0, True), 1: (1, True), 2: (1, False), 3: (1, False),
        4: (4, True), 5: (5, True), 6: (5, False),
    }


def test_neardup_clusters_evaluates_the_pair_plan_once(spark):
    """A lazy pair frame is evaluated once: the components' canonical
    pair checkpoint also yields the labels' vertex set."""
    import pandas as pd

    from bitcoinpagerank_spark.operators.dedup import neardup_clusters

    docs = spark.createDataFrame([(i,) for i in range(7)], "doc_id long")
    batches = spark.sparkContext.accumulator(0)

    def pairs_of(it):
        for pdf in it:
            batches.add(1)
            yield pd.DataFrame({"id_a": pdf["a"] + 1, "id_b": pdf["b"] + 1})

    # one partition, one batch: each evaluation of the plan adds 1
    rows = spark.sparkContext.parallelize([(0, 1), (1, 2), (4, 5)], 1)
    pairs = spark.createDataFrame(rows, "a long, b long").mapInPandas(
        pairs_of, "id_a long, id_b long")
    got = {r["doc_id"]: r["canonical_id"]
           for r in neardup_clusters(spark, docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5}
    assert batches.value == 1


def test_corpus_filter_hand_case(spark):
    from bitcoinpagerank_spark.operators.dedup import corpus_filter

    base = "the data is good and the spark is fast for all of you today now"
    docs = spark.createDataFrame(
        [
            (1, base),            # keeper of the dup pair
            (5, base),            # exact dup, higher id -> dropped
            (2, "das ist und der die"),           # predicted 'de'
            (3, "a b"),                            # too short
            (4, " ".join(["zz"] * 30)),            # no stopwords -> low quality
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           corpus_filter(docs, min_tokens=5, max_tokens=50).collect()}
    assert set(out) == {1}
    assert out[1]["lang_pred"] == "en" and out[1]["n_tokens"] == 15


def test_decontaminate_planted_13gram(spark):
    """Planted contamination: a corpus doc embeds an exact 13-token span
    from an eval doc; it must be flagged with the right evidence n-gram,
    and near-miss docs (12-token overlap) must not be."""
    from bitcoinpagerank_spark.operators.dedup import decontaminate

    span = " ".join(f"e{i}" for i in range(13))       # 13 eval tokens
    near = " ".join(f"e{i}" for i in range(12))       # only 12 of them
    corpus = spark.createDataFrame(
        [
            (1, f"alpha beta {span} gamma"),          # contaminated
            (2, f"alpha beta {near} gamma delta"),    # 12-gram: clean
            (3, "totally unrelated words only here"), # clean
            (4, span),                                # the span verbatim
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, f"preamble {span} postamble")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["sample_ngram"])
        for r in decontaminate(corpus, eval_docs, n=13).collect()
    }
    assert set(got) == {1, 4}
    assert got[4] == (1, span)       # exactly one shared 13-gram
    assert got[1][1] == span         # min n-gram is the planted span
    assert got[1][0] >= 1


def test_decontaminate_eval_broadcast_gated(spark, monkeypatch):
    """The eval n-gram side is broadcast only under BROADCAST_HINT_MAX —
    same tracked-count gate as every other hint site."""
    from bitcoinpagerank_spark.operators import edges as edges_mod
    from bitcoinpagerank_spark.operators.dedup import decontaminate

    text = " ".join(f"w{i}" for i in range(30))
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    ev = spark.createDataFrame([(9, text)], "doc_id long, text string")

    monkeypatch.setattr(edges_mod, "BROADCAST_HINT_MAX", 3)
    out = decontaminate(corpus, ev, n=13)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in plan
    assert out.count() == 1  # still correct via the shuffle join

    monkeypatch.setattr(edges_mod, "BROADCAST_HINT_MAX", 2_000_000)
    out2 = decontaminate(corpus, ev, n=13)
    plan2 = out2._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in plan2


def test_containment_pairs_embedded_doc(spark):
    """A short doc fully embedded in a long one: containment(a in b) ~ 1
    while containment(b in a) is small — the directed measure Jaccard
    misses."""
    from bitcoinpagerank_spark.functions.text import token_dictionary
    from bitcoinpagerank_spark.operators.dedup import (
        containment_pairs,
        doc_token_ids,
    )

    quote = " ".join(f"q{i}" for i in range(12))
    long_doc = f"intro words here {quote} and a very long tail " + " ".join(
        f"t{i}" for i in range(30)
    )
    docs = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "unrelated stuff entirely")],
        "doc_id long, text string",
    )
    tids = doc_token_ids(docs, dictionary=token_dictionary(docs))
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(tids, w=4, threshold=0.8).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 0.8   # quote contained in long
    assert (2, 1) not in got                      # long not contained in quote
    assert not any(3 in k for k in got)


def test_tiled_self_join_matches_untiled(spark, tids):
    """r7: the triangle-tiled bucket self-join (skew spreading) must
    produce exactly the untiled pair set — no duplicates, no losses —
    for both the ordered (id_a < id_b) and directed (id_a != id_b)
    join shapes."""
    from bitcoinpagerank_spark.operators.dedup import (
        containment_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(tids, k=8)
    tiled = sorted(map(tuple, lsh_candidate_pairs(sigs, bands=4).collect()))
    untiled = sorted(
        map(tuple, lsh_candidate_pairs(sigs, bands=4, salt=1).collect())
    )
    assert tiled == untiled and len(tiled) > 0

    cont = sorted(
        map(tuple, containment_pairs(tids, w=2, threshold=0.5).collect())
    )
    assert len(cont) == len(set((a, b) for a, b, _ in cont))  # directed, unique
