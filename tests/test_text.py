"""Text analysis + dedup families over the documents testdata."""

import pytest
from pyspark.sql import functions as F

from kafka_connect_converter_json_spark.operators import text as tx
from kafka_connect_converter_json_spark.operators import textdedup as td

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("  ",), ("one",)], "text string"
    ).select(tx.token_count(F.col("text")).alias("n"))
    assert [r.n for r in df.collect()] == [3, 0, 0, 1]


def test_bpe_token_count(spark):
    df = spark.createDataFrame([("foo123 bar, baz!",)], "text string")
    # foo,123,bar,',',baz,'!' -> 6
    assert df.select(tx.bpe_token_count(F.col("text")).alias("n")).collect()[0].n == 6


def test_lang_id_markers(spark):
    rows = [
        ("the cat and the dog is here",),
        ("der hund und die katze ist da",),
        ("xyzzy plugh",),
    ]
    df = spark.createDataFrame(rows, "text string")
    out = [r.l for r in df.select(tx.lang_id(F.col("text")).alias("l")).collect()]
    assert out == ["en", "de", "und"]


def test_quality_features_ranges(docs):
    q = tx.quality_features(docs).collect()
    for r in q:
        assert 0.0 <= r.alpha_ratio <= 1.0
        assert 0.0 <= r.punct_ratio <= 1.0
        assert r.n_tokens >= 0


def test_fingerprint_stable_under_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "different text here")],
        "doc_id long, text string",
    )
    fp = {r.doc_id: (r.exact_fp, r.winnow_fp) for r in tx.fingerprint(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_exact_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "Same   TEXT"), (3, "unique")], "doc_id long, text string"
    )
    groups = td.exact_duplicates(df).collect()
    assert len(groups) == 1
    assert groups[0].representative == 1 and groups[0].group_size == 2


def test_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    sh = sorted(r.shingle for r in td.shingle_table(df, n=3).collect())
    assert sh == ["a b c", "b c d"]
    # doc shorter than n -> no shingles
    df2 = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert td.shingle_table(df2, n=3).count() == 0


def test_ngram_jaccard_pairs(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely different words entirely unrelated text"),
        ],
        "doc_id long, text string",
    )
    pairs = td.ngram_jaccard_pairs(df, n=3, threshold=0.3).collect()
    assert len(pairs) == 1
    p = pairs[0]
    assert (p.id_a, p.id_b) == (1, 2) and p.jaccard > 0.5


def test_minhash_lsh_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base.replace("today", "tomorrow")), (3, "zz yy xx ww vv uu tt ss rr qq pp oo")],
        "doc_id long, text string",
    )
    cands = {(r.id_a, r.id_b) for r in td.minhash_lsh_candidates(df, num_hashes=16, bands=8).collect()}
    assert (1, 2) in cands
    assert (1, 3) not in cands and (2, 3) not in cands


def test_simhash_near_pairs(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(1, base), (2, base + " lambda"), (3, "totally other words qrs tuv wxy zab cde fgh")],
        "doc_id long, text string",
    )
    sig = {r.id: r.simhash for r in td.simhash(df).collect()}
    assert sig[1] != sig[3]
    pairs = {(r.id_a, r.id_b) for r in td.simhash_near_pairs(df, max_hamming=12).collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_simhash_deterministic(spark, docs):
    a = {r.id: r.simhash for r in td.simhash(docs.limit(50)).collect()}
    b = {r.id: r.simhash for r in td.simhash(docs.limit(50)).collect()}
    assert a == b


def test_simhash_md5_token_hash_matches_hashlib(spark):
    """Portable token hash: conv(substr(md5,1,16),16,-10) must equal the
    signed int64 of the first 16 md5 hex chars (the oracle's formula)."""
    import hashlib

    df = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    got = td.simhash(df).collect()[0].simhash
    votes = [0] * 64
    for tok in ["alpha", "beta"]:
        u = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
        for b in range(64):
            votes[b] += 1 if (u >> b) & 1 else -1
    expect_u = sum(1 << b for b in range(64) if votes[b] > 0)
    expect = expect_u - (1 << 64) if expect_u >= (1 << 63) else expect_u
    assert got == expect


def test_simhash_sql_form_matches_reference_votes(spark):
    """The r6 single-SQL-expression aggregate (64 branchless sums parsed
    JVM-side) must equal the per-bit majority-vote reference on docs with
    many tokens, including exact vote TIES (2*cnt == n -> bit clear,
    identical to vote <= 0 in the signed-vote formulation)."""
    import hashlib

    texts = {
        1: "one two three four five six seven eight nine ten " * 7,
        2: "aa bb",  # 2 tokens: any bit where they differ is an exact tie
        3: "solo",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.id: r.simhash for r in td.simhash(df).collect()}
    for doc_id, text in texts.items():
        votes = [0] * 64
        for tok in text.split():
            u = int(hashlib.md5(tok.encode()).hexdigest()[:16], 16)
            for b in range(64):
                votes[b] += 1 if (u >> b) & 1 else -1
        expect_u = sum(1 << b for b in range(64) if votes[b] > 0)
        expect = expect_u - (1 << 64) if expect_u >= (1 << 63) else expect_u
        assert got[doc_id] == expect, doc_id
    # doc 2 must actually exercise the tie branch somewhere
    ua = int(hashlib.md5(b"aa").hexdigest()[:16], 16)
    ub = int(hashlib.md5(b"bb").hexdigest()[:16], 16)
    assert ua ^ ub != 0  # differing bits exist -> ties occurred


def test_band_frequency_cut_bounds_fanout(spark):
    """A degenerate band shared by many ids must be dropped by the cap."""
    rows = [(i, "hot") for i in range(50)] + [(100, "cold"), (101, "cold")]
    banded = spark.createDataFrame(rows, ["id", "band"])
    kept = td.band_frequency_cut(banded, "band", 10)
    assert {r.band for r in kept.collect()} == {"cold"}
    assert td.band_frequency_cut(banded, "band", None).count() == 52


def test_simhash_near_pairs_capped_still_finds_exact_dups(spark):
    df = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"), (2, "aa bb cc dd ee ff gg hh"),
         (3, "totally different words here xyz")],
        ["doc_id", "text"],
    )
    pairs = {(r.id_a, r.id_b, r.hamming) for r in
             td.simhash_near_pairs(df, max_hamming=0, max_band_freq=100).collect()}
    assert pairs == {(1, 2, 0)}


def test_ngram_jaccard_ppjoin_exact_vs_bruteforce(spark):
    """The r6 PPJoin prefix+positional candidate path must reproduce the
    brute-force Jaccard result EXACTLY (pairs, common, sizes, jaccard) on
    a corpus with heavy cross-doc shingle sharing, across thresholds
    including the degenerate t=0 (prefix = whole array) and a high t
    where the positional filter prunes aggressively."""
    import itertools
    import re

    base_words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta"]
    rows = []
    for i in range(30):
        words = [base_words[(i + j) % len(base_words)] for j in range(8)]
        words.append(f"tail{i % 5}")
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def brute(threshold):
        shingles = {}
        for i, text in rows:
            toks = re.sub(r"\s+", " ", text.strip().lower()).split(" ")
            shingles[i] = {
                " ".join(toks[k: k + 3]) for k in range(len(toks) - 2)
            }
        out = set()
        for ia, ib in itertools.combinations(sorted(shingles), 2):
            common = len(shingles[ia] & shingles[ib])
            if common == 0:
                continue
            ja = round(common / (len(shingles[ia]) + len(shingles[ib]) - common), 6)
            if ja >= threshold:
                out.add((ia, ib, common, len(shingles[ia]), len(shingles[ib]), ja))
        return out

    for threshold in (0.0, 0.3, 0.8):
        got = {
            (r.id_a, r.id_b, r.common, r.sz_a, r.sz_b, r.jaccard)
            for r in td.ngram_jaccard_pairs(
                df, n=3, threshold=threshold, max_shingle_freq=1000
            ).collect()
        }
        assert got == brute(threshold), f"mismatch at t={threshold}"


def test_ngram_jaccard_chunked_pairs_equivalent(spark):
    """The chunked pair generator (bounded per-row pair arrays) must
    produce EXACTLY the flat-combinations result: many docs sharing
    shingles, pair_chunk far smaller than the hottest doc-list so the
    within-chunk, cross-chunk, and ragged-tail paths all execute."""
    # 10 docs all sharing one base sentence -> one shingle list of 10 ids
    base = "alpha beta gamma delta epsilon zeta"
    rows = [(i, f"{base} tail{i} word{i % 3}") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def result(chunk):
        return sorted(
            (r.id_a, r.id_b, r.common, r.jaccard)
            for r in td.ngram_jaccard_pairs(
                df, n=2, threshold=0.0, max_shingle_freq=100, pair_chunk=chunk
            ).collect()
        )

    big = result(128)   # every list fits one chunk (flat behavior)
    assert len(big) == 45  # all C(10,2) pairs share the base shingles
    assert result(3) == big   # chunked: 4 chunks of <=3, ragged tail
    assert result(1) == big   # degenerate: all-cross-chunk


@pytest.mark.parametrize("bits", [0, -1, 65])
def test_simhash_rejects_bits_outside_1_to_64(spark, bits):
    df = spark.createDataFrame([(1, "alpha beta")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="bits"):
        td.simhash(df, bits=bits)


def test_simhash_low_bits_match_reference_votes(spark):
    """``bits < 64`` keeps the low bits of the 64-bit signature."""
    df = spark.createDataFrame([(1, "alpha beta gamma")], ["doc_id", "text"])
    full = td.simhash(df).collect()[0].simhash
    low = td.simhash(df, bits=8).collect()[0].simhash
    assert low == full & 0xFF
