"""Training-pipeline operators: text analysis, dedup ladder, similarity,
multimodal plumbing (SURVEY.md §2.5 extensions)."""

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from sparkfuse.dedup import (
    exact_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    ngram_jaccard_pairs_oracle_sql,
    shingles_col,
)
from sparkfuse.multimodal import (
    FEATURE_DIM,
    decode_image,
    extract_features,
    frame_sample_plan,
    media_repartition_by_bytes,
    synth_media,
)
from sparkfuse.similarity import (
    ann_lsh_topk,
    cosine_lsh_pairs,
    cosine_pairs,
    knn_topk,
    knn_topk_oracle_sql,
)
from sparkfuse.textops import (
    fingerprint,
    hamming64,
    lang_id,
    lang_id_oracle_sql,
    quality_stats,
    simhash64,
    token_stats,
)

SF01 = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in ["documents", "embeddings", "events"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")
    yield con
    con.close()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF01}/documents.parquet")


# ---------------------------------------------------------------------------
# text ops
# ---------------------------------------------------------------------------

def test_token_stats_matches_python(spark, docs):
    got = {r["doc_id"]: (r["n_tokens"], r["n_chars_text"])
           for r in token_stats(docs, "doc_id", "text").collect()}
    for r in docs.limit(50).collect():
        toks = r["text"].strip().split()
        assert got[r["doc_id"]] == (len(toks), len(r["text"]))


def test_quality_stats_fields(spark, docs):
    rows = quality_stats(docs, "doc_id", "text").collect()
    for r in rows[:50]:
        assert r["n_uniq_tokens"] <= r["n_tokens"]
        assert r["max_token_len"] >= 1


def test_lang_id_matches_oracle(spark, docs, ddb):
    got = {r["doc_id"]: r["pred_lang"] for r in lang_id(docs, "doc_id", "text").collect()}
    want = dict(ddb.execute(lang_id_oracle_sql("documents", "doc_id", "text")).fetchall())
    assert got == want


def test_fingerprint_dedup_events(spark, ddb):
    events = spark.read.parquet(f"{SF01}/events.parquet")
    got = sorted(r["event_id"] for r in exact_dedup(events, "event_id", "props").collect())
    want = sorted(
        r[0] for r in ddb.execute(
            "SELECT MIN(event_id) FROM events GROUP BY props"
        ).fetchall()
    )
    assert got == want
    assert len(got) == 100  # known dup structure


def test_fingerprint_width_parameterization(spark, ddb):
    from sparkfuse.dedup import fingerprint_cols

    events = spark.read.parquet(f"{SF01}/events.parquet")
    want = sorted(
        r[0] for r in ddb.execute(
            "SELECT MIN(event_id) FROM events GROUP BY props"
        ).fetchall()
    )
    # both widths agree with full-text grouping on a real corpus; 128-bit is
    # the default because only it stays collision-free at 10^12 docs
    for bits in (64, 128):
        got = sorted(
            r["event_id"]
            for r in exact_dedup(
                events, "event_id", "props", fingerprint_bits=bits
            ).collect()
        )
        assert got == want, bits
    # the two 128-bit lanes are genuinely different hash functions
    row = events.select(*fingerprint_cols("props", 128)).first()
    assert row["fp"] != row["fp2"]
    with pytest.raises(ValueError, match="64 or 128"):
        fingerprint_cols("props", 96)


def test_simhash_properties(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy cat near the river bank"),
        (2, "completely different content about spark shuffles and parquet files"),
        (3, "the quick brown fox jumps over the lazy dog near the river bank"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sims = {r["doc_id"]: r["simhash"] for r in simhash64(df, "doc_id", "text").collect()}
    assert sims[0] == sims[3]  # identical text -> identical simhash
    mask = (1 << 64) - 1
    d_near = bin((sims[0] ^ sims[1]) & mask).count("1")
    d_far = bin((sims[0] ^ sims[2]) & mask).count("1")
    assert d_near < d_far
    assert d_near <= 12
    # hamming64 JVM expression agrees
    j = df.select(F.lit(sims[0]).alias("a"), F.lit(sims[1]).alias("b")).select(
        hamming64(F.col("a"), F.col("b")).alias("d")
    ).first()["d"]
    assert j == d_near


# ---------------------------------------------------------------------------
# dedup ladder
# ---------------------------------------------------------------------------

def test_ngram_jaccard_pairs_matches_oracle(spark, docs, ddb):
    got = sorted(
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    )
    want = sorted(
        (a, b)
        for a, b in ddb.execute(
            ngram_jaccard_pairs_oracle_sql("documents", "doc_id", "text")
        ).fetchall()
    )
    assert got == want
    assert len(got) >= 10  # planted near-dups exist (non-degenerate)


def test_minhash_lsh_recall(spark, docs):
    exact = set(
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    )
    cand = set(
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(docs, "doc_id", "text").collect()
    )
    assert exact, "fixture should contain near-dups"
    recall = len(exact & cand) / len(exact)
    assert recall >= 0.9, recall
    # candidate set stays small (the point of LSH)
    n_docs = docs.count()
    assert len(cand) < n_docs * n_docs / 20


def test_minhash_lsh_rejects_indivisible_bands(spark, docs):
    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=20, bands=8)


def test_winnow_fingerprints_vs_python_reference(spark):
    """Randomized cross-check of the JVM zip_with formulation against a
    direct Python transliteration of the winnowing definition."""
    import random

    from sparkfuse.textops import (
        WINNOW_BASE,
        WINNOW_MOD,
        winnow_fingerprints,
    )

    k, window = 5, 4

    def reference(text):
        if len(text) < k:
            return set()
        grams = []
        for i in range(len(text) - k + 1):
            h = 0
            for c in text[i : i + k]:
                h = (h * WINNOW_BASE + ord(c)) % WINNOW_MOD
            grams.append(h)
        if len(grams) < window:
            return {min(grams)}
        return {
            min(grams[w : w + window]) for w in range(len(grams) - window + 1)
        }

    rng = random.Random(42)
    alphabet = "ab cd\tef!?" + "xyz0189"
    rows = []
    for i in range(40):
        n = rng.randrange(0, 30)
        rows.append((i, "".join(rng.choice(alphabet) for _ in range(n))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in winnow_fingerprints(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for i, text in rows:
        assert got.get(i, set()) == reference(text), (i, text)


def test_curation_pipeline_semantics(spark, docs):
    from sparkfuse.pipeline import curate_documents

    kept = {r["doc_id"] for r in curate_documents(docs, "doc_id", "text").collect()}
    n_docs = docs.count()
    assert kept  # non-degenerate
    # the fixture plants near-dups (no exact dups), so the near-dup stage bites
    assert len(kept) < n_docs
    # canonical choice: every kept id is its text's minimum id
    canon = {
        r["doc_id"]
        for r in docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).collect()
    }
    assert kept <= canon
    # deterministic
    kept2 = {r["doc_id"] for r in curate_documents(docs, "doc_id", "text").collect()}
    assert kept == kept2


def test_bpe_token_stats_segments(spark):
    from sparkfuse.textops import bpe_token_stats

    df = spark.createDataFrame(
        [(0, "hello world"), (1, "it's 2024, okay?!"), (2, ""), (3, "a1b2")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: (r["n_bpe_tokens"], r["n_ws_tokens"])
           for r in bpe_token_stats(df, "doc_id", "text").collect()}
    assert got[0] == (2, 2)              # "hello", " world"
    # "it", "'", "s", " 2024", ",", " okay", "?!"
    assert got[1][0] == 7
    assert got[3][0] == 4                # letter/digit class switches split
    assert got[2][0] == 0


def test_bpe_token_stats_drops_all_whitespace_runs(spark):
    from sparkfuse.textops import bpe_token_stats

    df = spark.createDataFrame(
        [(0, "a\nb"), (1, "a b"), (2, "a\t\tb")], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r["n_bpe_tokens"]
           for r in bpe_token_stats(df, "doc_id", "text").collect()}
    # newline/tab runs are whitespace, not tokens — same count as a space
    assert got[0] == got[1] == got[2] == 2


def test_vertical_tab_cross_engine_parity(spark):
    # Java \s includes \x0B, RE2's does not — both TOKEN_SPLIT and
    # BPE_SPLIT_REGEX spell the whitespace class out so a \x0B-bearing doc
    # tokenizes identically in Spark and the DuckDB oracle
    import duckdb
    import pandas as pd

    from sparkfuse.textops import (
        bpe_token_stats,
        bpe_token_stats_oracle_sql,
    )

    rows = [
        (0, "a\x0b."),                         # the VERDICT r2 divergence case
        (1, "plain text with\ttabs and\nnewlines"),
        (2, "mixed \x0b ws\x0b\x0bruns \f formfeed"),
        (3, "the cat\x0bsat"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    con = duckdb.connect()
    con.register("vt_docs", pd.DataFrame(rows, columns=["doc_id", "text"]))

    got_tok = {r["doc_id"]: r["n_tokens"]
               for r in token_stats(df, "doc_id", "text").collect()}
    want_tok = dict(con.execute(
        "SELECT doc_id, len(string_split_regex(trim(text), "
        "'[ \\t\\n\\r\\f]+')) FROM vt_docs"
    ).fetchall())
    assert got_tok == want_tok

    got_bpe = {r["doc_id"]: (r["n_bpe_tokens"], r["n_ws_tokens"])
               for r in bpe_token_stats(df, "doc_id", "text").collect()}
    want_bpe = {r[0]: (r[1], r[2]) for r in con.execute(
        bpe_token_stats_oracle_sql("vt_docs", "doc_id", "text")
    ).fetchall()}
    assert got_bpe == want_bpe

    got_lang = {r["doc_id"]: r["pred_lang"]
                for r in lang_id(df, "doc_id", "text").collect()}
    want_lang = dict(con.execute(
        lang_id_oracle_sql("vt_docs", "doc_id", "text")
    ).fetchall())
    assert got_lang == want_lang


def test_contamination_check_planted(spark):
    # a corpus doc embedding a benchmark question verbatim is flagged with
    # the exact overlapping-gram count; clean docs are absent
    from sparkfuse.decontam import contamination_check

    bench_q = ("what is the airspeed velocity of an unladen swallow "
               "carrying a coconut across the english channel")
    corpus = spark.createDataFrame(
        [
            (1, "intro text before the leak. " + bench_q + " trailing words."),
            (2, "a completely clean training document about shuffle metrics "
                "and adaptive execution with plenty of ordinary tokens here"),
            (3, bench_q),  # verbatim copy
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(bench_q,)], "text string")
    got = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in contamination_check(
            corpus, "doc_id", "text", bench, "text", n=13, spark=spark
        ).collect()
    }
    # bench_q has 16 tokens -> 4 distinct 13-grams; both leaky docs carry all
    assert got == {1: 4, 3: 4}


def test_winnow_overlap_catches_chunk_copy_paste(spark):
    # two documents that differ almost everywhere but share one pasted
    # paragraph: whole-doc shingle Jaccard stays below 1/2 (no ngram pair),
    # while the shared substring guarantees shared winnow fingerprints
    from fractions import Fraction

    from sparkfuse.dedup import ngram_jaccard_pairs
    from sparkfuse.textops import winnow_overlap_pairs

    pasted = "this exact boilerplate disclaimer paragraph was copied verbatim between documents"
    rows = [
        (1, "first document discusses adaptive query execution plans at length. " + pasted),
        (2, pasted + " second document about arrow batch pipelining and python workers entirely."),
        (3, "zebra quartz kayak fjord glyph nymph vex jumbo wraith plink oxbow"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    jacc = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=Fraction(1, 2)
        ).collect()
    }
    assert (1, 2) not in jacc  # invisible to whole-doc Jaccard
    got = {
        (r["id_a"], r["id_b"]): r["n_shared_fps"]
        for r in winnow_overlap_pairs(docs, "doc_id", "text", min_shared=3).collect()
    }
    assert (1, 2) in got and got[(1, 2)] >= 3
    assert not any(3 in p for p in got)
    # stop-fingerprint cutoff path still returns the pair (its fingerprints
    # appear in only 2 docs, below any sane cutoff)
    capped = {
        (r["id_a"], r["id_b"])
        for r in winnow_overlap_pairs(
            docs, "doc_id", "text", min_shared=3, fp_cutoff=16
        ).collect()
    }
    assert (1, 2) in capped


def test_simhash_near_dups_lossless_vs_brute_force(spark, docs):
    # pigeonhole banding is LOSSLESS: banded pairs == brute-force all-pairs
    # hamming <= k, for every k tested
    from sparkfuse.textops import hamming64, simhash_near_dups

    sims = simhash64(docs, "doc_id", "text").cache()
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_sa"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sb"))
    for k in (0, 3, 7):
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(hamming64(F.col("_sa"), F.col("_sb")) <= k)
            .collect()
        }
        banded = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dups(docs, "doc_id", "text", max_hamming=k).collect()
        }
        assert banded == brute, (k, len(banded), len(brute))
    sims.unpersist()


def test_simhash_near_dups_finds_planted_pairs(spark):
    from sparkfuse.textops import simhash_near_dups

    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river bank"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "totally different content about columnar shuffle readers and codecs"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_dups(docs, "doc_id", "text", max_hamming=0).collect()
    }
    assert (0, 1) in got and not any(2 in p for p in got)


def test_simhash_near_dups_capped_drops_boilerplate_keeps_planted_pair(spark):
    # the max_bucket_size exit path (dropDuplicates instead of the
    # first-qualifying-band filter), in the exact-band regime (k=3) and the
    # query-expansion regime (k=6): the boilerplate family floods every one
    # of its band buckets and is dropped, while every other pair within
    # hamming k matches brute force
    from sparkfuse.textops import hamming64, simhash_near_dups

    planted = ("sharded membership filters are rebuilt every epoch from the "
               "transcript table and broadcast to the probe side where each "
               "worker answers point lookups with a vectorized gather over "
               "the fingerprint array of its shard")
    rows = [(i, "identical boilerplate header text repeated everywhere "
                "on every single page of the site") for i in range(60)]
    rows += [
        (100, planted),
        (101, planted.replace("each", "every")),  # hamming 2
        (102, "columnar shuffle readers decode pages of dictionary codes"),
        (103, "an unrelated note on adaptive query execution and skew joins"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sims = simhash64(docs, "doc_id", "text").cache()
    a = sims.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("_sa"))
    b = sims.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("_sb"))
    for k in (3, 6):
        brute = {
            (r["id_a"], r["id_b"])
            for r in a.crossJoin(b)
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(hamming64(F.col("_sa"), F.col("_sb")) <= k)
            .collect()
        }
        assert (0, 1) in brute and (100, 101) in brute, k  # fixture sanity
        capped = {
            (r["id_a"], r["id_b"])
            for r in simhash_near_dups(
                docs, "doc_id", "text", max_hamming=k, max_bucket_size=10
            ).collect()
        }
        assert (100, 101) in capped, k                      # planted pair survives
        assert not any(a < 60 and b < 60 for a, b in capped), k  # family dropped
        assert capped == {(x, y) for x, y in brute if x >= 100}, k
    sims.unpersist()


def test_cosine_pairs_ignores_zero_norm_vectors(spark):
    from sparkfuse.similarity import cosine_pairs

    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),
        (2, [0.0, 0.0]),  # no direction: must pair with nothing (0/0 = NaN)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"])
             for r in cosine_pairs(df, "vec_id", "embedding", 0.4).collect()}
    assert pairs == {(0, 1)}


def test_winnow_fingerprints_properties(spark, ddb):
    from sparkfuse.textops import winnow_fingerprints, winnow_fingerprints_oracle_sql

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "tiny"),   # < k chars -> no fingerprints
        (3, "exact"),  # exactly k chars -> one gram -> one fingerprint
        (4, ""),
        (5, "the quick brown fox jumps over the lazy dog"),  # dup of 0
        (6, "unrelated words entirely: spark parquet shuffle executor"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(df, "doc_id", "text").collect()
    )
    ddb.execute("CREATE OR REPLACE TABLE winnow_docs AS SELECT * FROM (VALUES "
                + ",".join(f"({i}, '{t}')" for i, t in rows)
                + ") t(doc_id, text)")
    want = sorted(tuple(r) for r in ddb.execute(
        winnow_fingerprints_oracle_sql("winnow_docs", "doc_id", "text")
    ).fetchall())
    assert got == want  # bit-exact cross-engine (integer rolling hash)
    by_doc = {}
    for d, fp in got:
        by_doc.setdefault(d, set()).add(fp)
    assert by_doc[0] == by_doc[5]               # identical text, identical set
    assert by_doc[0] & by_doc[1]                # shared >=k+window-1 substring
    assert 2 not in by_doc and 4 not in by_doc  # too short -> no fingerprints
    assert len(by_doc[3]) == 1                  # exactly-k doc -> one fp
    assert not (by_doc[0] & by_doc[6])          # unrelated docs don't collide


def test_winnow_fingerprints_documents_twin(spark, ddb):
    """Pins the former winnow_fingerprints entry row (merged out of the
    50-entry driver surface in round 5): per-doc (n_fps, fp_xor) over the
    real sf0.01 documents table must match the DuckDB twin bit-for-bit."""
    from sparkfuse.textops import winnow_fingerprints, winnow_fingerprints_oracle_sql

    sf_dir = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import pyspark.sql.functions as F

    got = sorted(
        tuple(r)
        for r in winnow_fingerprints(docs, "doc_id", "text")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_fps"),
            F.expr("bit_xor(fp)").alias("fp_xor"),
        )
        .collect()
    )
    ddb.execute(
        "CREATE OR REPLACE VIEW winnow_sf_docs AS "
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'"
    )
    inner = winnow_fingerprints_oracle_sql("winnow_sf_docs", "doc_id", "text")
    want = sorted(
        tuple(r)
        for r in ddb.execute(
            f"WITH fps AS ({inner}) "
            "SELECT doc_id, COUNT(*) AS n_fps, bit_xor(fp) AS fp_xor "
            "FROM fps GROUP BY doc_id"
        ).fetchall()
    )
    assert got == want
    assert len(got) == 500


def test_ngram_scale_preset_survives_hot_shingles(spark):
    """Skew test: every doc shares one boilerplate phrase (a corpus-wide hot
    shingle). The scale preset must (a) still find every planted near-dup —
    their identifying shingles are rare — and (b) never invent pairs the
    exact path lacks (pruning only removes candidates).
    """
    boiler = "click here to accept all cookies and continue"
    rows = []
    # 300 distinct docs, all sharing the boilerplate (hot shingles df=300)
    for i in range(300):
        rows.append((i, f"{boiler} unique content piece number {i} alpha beta"))
    # 10 planted near-dup pairs: same rare content, one token differs
    for j in range(10):
        base = f"rare document body {j} with several distinctive tokens here"
        rows.append((1000 + 2 * j, f"{boiler} {base} one"))
        rows.append((1001 + 2 * j, f"{boiler} {base} two"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    exact = set(
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text").collect()
    )
    pruned = set(
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", scale=True).collect()
    )
    planted = {(1000 + 2 * j, 1001 + 2 * j) for j in range(10)}
    assert planted <= exact
    assert planted <= pruned  # recall 1.0 on planted near-dups under pruning
    assert pruned <= exact  # pruning may only ever REMOVE pairs, never add
    # and the fixture really contains stop-shingles (df > cutoff)
    from sparkfuse.dedup import DEFAULT_STOP_SHINGLE_DF

    inv = docs.select(F.explode(shingles_col("text")).alias("g"))
    hot = inv.groupBy("g").count().filter(
        F.col("count") > DEFAULT_STOP_SHINGLE_DF
    ).count()
    assert hot > 0


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def test_knn_topk_matches_oracle(spark, ddb):
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    qids = list(range(10))
    got = sorted(
        (r["query_id"], r["neighbor_id"], r["score"])
        for r in knn_topk(emb, "vec_id", "embedding", qids, k=5).collect()
    )
    want = sorted(
        ddb.execute(
            knn_topk_oracle_sql("embeddings", "vec_id", "embedding", qids, k=5)
        ).fetchall()
    )
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, s1), (_, _, s2) in zip(got, want):
        assert abs(s1 - s2) < 1e-6


def test_cosine_pairs_nonempty_and_symmetric_free(spark):
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    pairs = cosine_pairs(emb, "vec_id", "embedding", threshold=0.4).collect()
    assert len(pairs) > 0
    assert all(r["id_a"] < r["id_b"] for r in pairs)


def test_ann_lsh_recall(spark):
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    qids = list(range(20))
    exact = {}
    for r in knn_topk(emb, "vec_id", "embedding", qids, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in ann_lsh_topk(emb, "vec_id", "embedding", qids, k=5).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [
        len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact
    ]
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_cosine_lsh_pairs_subset_of_exact(spark):
    # every emitted pair is exact-verified, so approx ⊆ exact ALWAYS holds
    # (precision 1.0 by construction); recall is the probabilistic part
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs(emb, "vec_id", "embedding", 0.4).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in cosine_lsh_pairs(
            emb, "vec_id", "embedding", 0.4, n_planes=3, n_tables=16
        ).collect()
    }
    assert approx <= exact
    # at cos>=0.4 with 3x16 tables the per-pair miss bound is <=1.1%
    assert len(approx) >= 0.8 * len(exact), (len(approx), len(exact))


def test_lsh_bucket_caps_bound_candidates_keep_planted_pairs(spark):
    # a boilerplate family (many identical docs) floods its buckets; the cap
    # drops those buckets while pairs outside oversized buckets survive
    from sparkfuse.dedup import minhash_lsh_candidates

    rows = [(i, "identical boilerplate header text repeated everywhere "
                "on every single page of the site") for i in range(60)]
    rows += [
        (100, "a genuinely unique document about distributed query planning"),
        (101, "a genuinely unique document about distributed query planning!"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            docs, "doc_id", "text", max_bucket_size=10
        ).collect()
    }
    assert (100, 101) in capped            # planted near-dup survives
    assert not any(a < 60 and b < 60 for a, b in capped)  # family buckets dropped
    # embedding analog
    emb = spark.createDataFrame(
        [(i, [1.0] * 8 + [0.0] * 56) for i in range(40)]
        + [(200, [0.0] * 56 + [1.0] * 8), (201, [0.0] * 56 + [1.0] * 8)],
        "vec_id long, embedding array<float>",
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_lsh_pairs(
            emb, "vec_id", "embedding", 0.99, max_bucket_size=5
        ).collect()
    }
    assert (200, 201) in got
    assert not any(a < 40 and b < 40 for a, b in got)


def test_cosine_lsh_pairs_planted_dups_full_recall(spark):
    # 2x-scaled copies: cosine is scale-invariant (cos = 1.0) and the sign
    # pattern is identical in every table, so recall on planted dups is
    # deterministic 1.0 — the invariant the entry query certifies
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    dup = emb.filter(F.col("vec_id") < 50).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias("embedding"),
    )
    base = emb.unionByName(dup)
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_lsh_pairs(base, "vec_id", "embedding", 0.99).collect()
    }
    assert {(i, i + 100000) for i in range(50)} <= got


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_media_schema_and_features(spark):
    media = synth_media(spark, 30, payload_bytes=2048)
    assert media.schema["payload"].dataType.typeName() == "binary"
    feats = extract_features(media).collect()
    assert len(feats) == 30
    assert all(len(r["feature"]) == FEATURE_DIM for r in feats)
    # deterministic across runs
    feats2 = extract_features(synth_media(spark, 30, payload_bytes=2048)).collect()
    a = {r["media_id"]: r["feature"] for r in feats}
    b = {r["media_id"]: r["feature"] for r in feats2}
    assert a == b


def test_media_decode_is_stub():
    # formats that truly need a codec library (WebP here) remain a declared
    # stub; PNG and baseline JPEG no longer are — sparkfuse.png /
    # sparkfuse.jpeg decode them (tests/test_png.py, tests/test_jpeg.py)
    with pytest.raises(NotImplementedError):
        decode_image(b"RIFF\x00\x00\x00\x00WEBPVP8 ")
    # signed-but-malformed payloads hit the REAL decoders' validation,
    # not the stub branch
    with pytest.raises(ValueError, match="truncated"):
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 4)
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0...jpeg...")


def test_wav_roundtrip_and_validation():
    import io
    import wave

    import numpy as np

    from sparkfuse.multimodal import decode_wav_pcm16, encode_wav_pcm16

    s = np.array([-256, 0, 1, 255, 32767, -32768], dtype=np.int16)
    b = encode_wav_pcm16(s, 8000)
    assert b[:4] == b"RIFF" and b[8:12] == b"WAVE"  # real container bytes
    out, rate = decode_wav_pcm16(b)
    assert rate == 8000 and (out == s).all()
    # stereo is rejected with a clear error, never silently mis-decoded
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(s.tobytes())
    with pytest.raises(ValueError, match="mono"):
        decode_wav_pcm16(buf.getvalue())


def test_ppm_roundtrip_comments_and_truncation():
    import numpy as np

    from sparkfuse.multimodal import decode_ppm, encode_ppm

    px = np.arange(5 * 4 * 3, dtype=np.uint8).reshape(4, 5, 3)
    b = encode_ppm(px)
    assert (decode_ppm(b) == px).all()
    # comment-tolerant header — the real Netpbm grammar
    commented = b"P6\n# made by hand\n5 4\n# maxval next\n255\n" + px.tobytes()
    assert (decode_ppm(commented) == px).all()
    with pytest.raises(ValueError, match="truncated"):
        decode_ppm(b[:-1])
    with pytest.raises(ValueError, match="magic"):
        decode_ppm(b"P5" + b[2:])


def test_decode_image_real_for_ppm_and_decoder_injection(spark):
    """decode_image genuinely parses P6, and the extract_features(decoder=)
    injection point carries the DECODED pixel arrays into the featurizer —
    checked against the generation arithmetic, not the container bytes."""
    import numpy as np

    from sparkfuse.multimodal import decode_image, extract_features, synth_codec_media

    ids = spark.range(1, 20, 2).select(F.col("id").alias("media_id"))  # odd -> image (PNG/PPM)
    media = synth_codec_media(ids)

    def mean_feat(decoded):
        return np.array(
            [[float(d.mean() / 255.0)] * 32 for d in decoded], dtype=np.float32
        )

    feats = {
        r["media_id"]: r["feature"]
        for r in extract_features(
            media, decoder=decode_image, featurizer=mean_feat
        ).collect()
    }
    assert set(feats) == set(range(1, 20, 2))
    for mid, f in feats.items():
        w, h = 4 + mid % 9, 3 + mid % 5
        x = np.arange(w)[None, :, None]
        y = np.arange(h)[:, None, None]
        c = np.arange(3)[None, None, :]
        px = (mid + x + 2 * y + 3 * c) % 256
        assert abs(f[0] - px.mean() / 255.0) < 1e-6


def test_frame_sample_plan(spark):
    media = synth_media(spark, 30)
    frames = frame_sample_plan(media, every_ms=250).collect()
    videos = media.filter(F.col("kind") == "video").count()
    assert len(frames) == videos * 4  # duration 1000ms, every 250ms -> 0,250,500,750
    assert media_repartition_by_bytes(media, target_mb=1).rdd.getNumPartitions() >= 1


def test_ivf_recall(spark):
    from sparkfuse.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    qids = list(range(20))
    exact = {}
    for r in knn_topk(emb, "vec_id", "embedding", qids, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in ivf_topk(emb, "vec_id", "embedding", qids, k=5,
                      n_centroids=8, n_probe=3).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.4, recalls
    # and the PRE-rerank candidate set is genuinely bounded (not a full scan)
    from sparkfuse.similarity import ivf_candidates

    n = emb.count()
    n_cands = ivf_candidates(
        emb, "vec_id", "embedding", qids, n_centroids=8, n_probe=3
    ).count()
    assert n_cands < len(qids) * n * 3 / 8 * 1.5  # ~n_probe/n_centroids of corpus


def test_ivf_distributed_trainer_recall_and_determinism(spark):
    """kmeans_centroids_distributed: (a) IVF with the full-table trainer
    meets the same recall bound as the sampled trainer; (b) two runs are
    byte-identical (content-keyed init, fixed fold order); (c) the driver
    only ever folds C reduced rows (the partial/reduce shapes are the
    true-UDAF contract the docstring claims)."""
    from sparkfuse.similarity import (
        ivf_topk,
        kmeans_centroids_distributed,
        knn_topk,
    )

    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    c1 = kmeans_centroids_distributed(emb, "vec_id", "embedding", 8, iters=5)
    c2 = kmeans_centroids_distributed(emb, "vec_id", "embedding", 8, iters=5)
    import numpy as np

    assert np.array_equal(c1, c2)  # deterministic run-to-run
    assert c1.shape[0] == 8 and np.isfinite(c1).all()

    qids = list(range(20))
    exact = {}
    for r in knn_topk(emb, "vec_id", "embedding", qids, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx = {}
    for r in ivf_topk(
        emb, "vec_id", "embedding", qids, k=5, n_centroids=8, n_probe=3,
        train="full",
    ).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(exact[q] & approx.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_resize_images_exact_and_passthrough(spark):
    """resize_images: decoded resized pixels equal the exact nearest-
    neighbor index formula applied to the decoded originals; the container
    family is preserved (PPM stays PPM, PNG stays PNG); audio rows pass
    through byte-identical; meta tracks the new dims."""
    from sparkfuse.multimodal import (
        decode_image,
        media_decode_stats,
        resize_images,
        resize_nearest,
        synth_codec_media,
    )

    ids = spark.range(40).select(F.col("id").alias("media_id"))
    media = synth_codec_media(ids).cache()
    out = resize_images(media, out_h=6, out_w=10).cache()
    orig = {r["media_id"]: r for r in media.collect()}
    seen_mimes = set()
    for r in out.collect():
        o = orig[r["media_id"]]
        if r["kind"] == "image":
            want = resize_nearest(decode_image(bytes(o["payload"])), 6, 10)
            got = decode_image(bytes(r["payload"]))
            assert got.shape == (6, 10, 3)
            assert (got == want).all()
            assert r["mime"] == o["mime"]  # container family preserved
            seen_mimes.add(r["mime"])
            assert r["meta"]["width"] == 10 and r["meta"]["height"] == 6
            assert r["meta"]["n_bytes"] == len(bytes(r["payload"]))
        else:
            assert bytes(r["payload"]) == bytes(o["payload"])  # untouched
    assert seen_mimes == {"image/x-portable-pixmap", "image/png"}
    # composes with the decode-stats operator (real end-to-end pipeline)
    stats = {
        r["media_id"]: r
        for r in media_decode_stats(out.filter(F.col("kind") == "image")).collect()
    }
    assert all(s["width"] == 10 and s["height"] == 6 for s in stats.values())
    # upscale and 1x1 edge cases stay exact
    one = resize_images(media.filter(F.col("kind") == "image"), 1, 1).collect()
    for r in one:
        px = decode_image(bytes(r["payload"]))
        o = decode_image(bytes(orig[r["media_id"]]["payload"]))
        assert (px == o[:1, :1]).all()
    media.unpersist()
    out.unpersist()


def test_resample_audio_exact_and_passthrough(spark):
    """resample_audio: decoded resampled samples equal the exact nearest-
    index formula applied to the decoded originals (down- and upsample);
    image rows pass through byte-identical; meta tracks duration/bytes."""
    from sparkfuse.multimodal import (
        decode_wav_pcm16,
        media_decode_stats,
        resample_audio,
        resample_nearest,
        synth_codec_media,
    )

    ids = spark.range(40).select(F.col("id").alias("media_id"))
    media = synth_codec_media(ids).cache()
    orig = {r["media_id"]: r for r in media.collect()}
    for out_rate in (4000, 12000):  # down- and upsample around the 8000 source
        out = resample_audio(media, out_rate=out_rate)
        for r in out.collect():
            o = orig[r["media_id"]]
            if r["kind"] == "audio":
                s_in, rate_in = decode_wav_pcm16(bytes(o["payload"]))
                s_out, rate_out = decode_wav_pcm16(bytes(r["payload"]))
                assert rate_in == 8000 and rate_out == out_rate
                n_out = len(s_in) * out_rate // 8000
                assert (s_out == resample_nearest(s_in, n_out)).all()
                assert r["meta"]["duration_ms"] == int(round(n_out * 1000 / out_rate))
                assert r["meta"]["n_bytes"] == len(bytes(r["payload"]))
            else:
                assert bytes(r["payload"]) == bytes(o["payload"])  # untouched
    # identity rate: same samples, writer-canonical container
    same = resample_audio(media.filter(F.col("kind") == "audio"), 8000)
    for r in same.collect():
        s_out, _ = decode_wav_pcm16(bytes(r["payload"]))
        s_in, _ = decode_wav_pcm16(bytes(orig[r["media_id"]]["payload"]))
        assert (s_out == s_in).all()
    # composes with the decode-stats operator
    stats = media_decode_stats(
        resample_audio(media.filter(F.col("kind") == "audio"), 4000)
    ).collect()
    assert stats and all(s["sample_rate"] == 4000 for s in stats)
    media.unpersist()


def test_compression_stats_zlib_ground_truth(spark):
    """compression_stats: deflate_bytes equals direct zlib.compress length
    (the UDF is real, Arrow-batched), the ratio separates repetitive
    boilerplate from high-entropy text, and NULL/empty text is total."""
    import zlib

    from sparkfuse.textops import compression_stats

    rows = [
        (1, "spam " * 400),                      # repetitive -> ratio >> 1
        # deterministic high-entropy text: chained sha256 digests, base64
        (2, __import__("base64").b64encode(
            b"".join(
                __import__("hashlib").sha256(bytes([i])).digest()
                for i in range(64)
            )
        ).decode()),
        (3, ""),                                  # empty
        (4, None),                                # NULL counts as empty
        (5, "The quick brown fox jumps over the lazy dog. " * 10),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in compression_stats(df, "doc_id", "text").collect()}
    for doc_id, text in rows:
        want = len(zlib.compress((text or "").encode("utf-8"), 6))
        assert got[doc_id]["deflate_bytes"] == want, doc_id
        assert got[doc_id]["raw_bytes"] == len((text or "").encode("utf-8"))
        assert got[doc_id]["compression_ratio"] == pytest.approx(
            got[doc_id]["raw_bytes"] / want
        )
    assert got[1]["compression_ratio"] > 20          # boilerplate collapses
    assert got[2]["compression_ratio"] < 2           # entropy barely compresses
    assert got[3]["compression_ratio"] == 0.0        # empty: total, not NULL
    assert got[4]["compression_ratio"] == 0.0
    # plan shape: scan -> project, no exchange
    plan = compression_stats(df, "doc_id", "text")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
