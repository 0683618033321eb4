"""SimHash parity: rebuild the 64-bit simhash in pure Python (hashlib.md5 —
fully independent of both engines), plus behavioral properties
(duplicate -> identical hash)."""

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from i_landsat8_swlst_spark.textops import q_simhash64

SF_DIR = "/root/testdata/sf0.001"


def _numpy_simhash(hashes: np.ndarray) -> int:
    h = hashes.astype(np.uint64)
    acc = np.zeros(64, dtype=np.int64)
    for j in range(64):
        bit = ((h >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
        acc[j] = np.sum(2 * bit - 1)
    out = np.uint64(0)
    for j in range(64):
        if acc[j] > 0:
            out |= np.uint64(1) << np.uint64(j)
    return int(out.view(np.int64) if hasattr(out, "view") else out)


def _md5_token_hash(tok: str) -> int:
    """The operator's 64-bit token hash: md5 hex chars 1-8 -> bits 0..31,
    chars 9-16 -> bits 32..63 (exactly q_simhash64's h1/h2 split)."""
    m = hashlib.md5(tok.encode()).hexdigest()
    return int(m[:8], 16) | (int(m[8:16], 16) << 32)


def test_simhash_matches_pure_python_rebuild(spark):
    got = q_simhash64(spark, SF_DIR).filter("doc_id < 8").toPandas().set_index("doc_id")
    docs = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    docs = docs[docs.doc_id < 8]
    assert len(got) > 0
    for _, row in docs.iterrows():
        hashes = np.array([_md5_token_hash(t) for t in row.text.split(" ")],
                          dtype=np.uint64)
        exp = _numpy_simhash(hashes)
        assert int(got.loc[row.doc_id, "simhash64"]) == int(np.int64(np.uint64(exp))), row.doc_id


def test_simhash_duplicate_docs_identical(spark):
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["alpha beta gamma delta", "alpha beta gamma delta", "zeta eta theta iota"],
        "lang": ["en"] * 3, "source": ["s"] * 3, "n_chars": [22, 22, 19],
    })
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    out = q_simhash64(spark, d).toPandas().set_index("doc_id")["simhash64"]
    assert out[1] == out[2]
    assert out[1] != out[3]


# --------------------------------------------------------------------------
# LSH near-dup vs brute-force all-pairs oracle: the O(n^2) form lives ONLY
# here, as the recall/precision oracle for the banded production plan.
# --------------------------------------------------------------------------


def _neardup_brute(sf_dir: str):
    """All-pairs near-dup over the same injected-twin universe as
    q_embed_neardup, in numpy: returns {vec_id: (keeper, n_neardups)}."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    sub = t[t.vec_id % 5 == 0].sort_values("vec_id")
    E = np.stack([np.asarray(e, dtype=np.float64) for e in sub.embedding])
    ids = sub.vec_id.to_numpy()
    Ed = E.copy()
    Ed[:, 0] = Ed[:, 0] * 1.5 + 0.25
    allE = np.vstack([E, Ed])
    allids = np.concatenate([ids, ids + 1000000])
    N = allE / np.linalg.norm(allE, axis=1, keepdims=True)
    C = np.round(N @ N.T, 4)
    out = {}
    for i, v in enumerate(allids):
        nbr = allids[(C[i] >= 0.9)]  # includes self (cos=1.0)
        out[int(v)] = (int(nbr.min()), int(len(nbr) - 1))
    return out


def test_embed_neardup_lsh_matches_bruteforce(spark):
    """Recall must be exactly 1.0: the twin differs in one dim, so >=15 of
    the 16 sign bands match (pigeonhole) and every true pair is a candidate;
    the cosine verify then makes precision exact too."""
    from i_landsat8_swlst_spark.textops import q_embed_neardup

    got = q_embed_neardup(spark, SF_DIR).toPandas().set_index("vec_id")
    exp = _neardup_brute(SF_DIR)
    assert len(got) == len(exp) > 0
    for vid, (keeper, n_nd) in exp.items():
        assert int(got.loc[vid, "keeper_id"]) == keeper, vid
        assert int(got.loc[vid, "n_neardups"]) == n_nd, vid
        assert int(got.loc[vid, "is_dup"]) == (1 if keeper < vid else 0), vid
    # non-trivial: every original found its injected twin
    assert (got["is_dup"] == 1).sum() == len(exp) // 2


def test_ann_ivf_recall_vs_bruteforce(spark):
    """IVF ANN quality gate: recall@5 vs the exact brute-force top-5 over the
    SAME query set / ranking semantics (cos rounded to 4, ties by neighbor_id
    asc). nprobe=5 of ~n/97 centroids measured 0.96 at this scale — assert
    the 0.9 floor so a quantizer regression can't pass silently."""
    import pyarrow.parquet as pq

    from i_landsat8_swlst_spark.textops import q_ann_ivf

    sf_dir = SF_DIR
    got = q_ann_ivf(spark, sf_dir).toPandas()
    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas().sort_values("vec_id")
    E = np.stack([np.asarray(e, dtype=np.float64) for e in t.embedding])
    ids = t.vec_id.to_numpy()
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    C = np.round(N @ N.T, 4)
    recalls = []
    for qi in np.nonzero(ids % 50 == 1)[0]:
        order = sorted((i for i in range(len(ids)) if i != qi),
                       key=lambda i: (-C[qi, i], ids[i]))
        brute5 = set(ids[order[:5]].tolist())
        ivf5 = set(got[got.query_id == ids[qi]].neighbor_id.tolist())
        recalls.append(len(brute5 & ivf5) / 5)
    assert len(recalls) >= 5
    assert float(np.mean(recalls)) >= 0.9


def test_sketch_error_bounds(spark):
    """q_sketch_stats (HLL++ distinct, GK percentile) has no cross-engine
    twin — its attestation is an error bound against the EXACT aggregates."""
    from i_landsat8_swlst_spark.relational import load, q_sketch_stats

    sf_dir = "/root/testdata/sf0.01"
    got = q_sketch_stats(spark, sf_dir).toPandas().set_index("l_returnflag")
    li = load(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("parts"),
        F.countDistinct("l_suppkey").alias("supps"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("p50"),
        F.expr("percentile(l_extendedprice, 0.9)").alias("p90"),
    ).toPandas().set_index("l_returnflag")
    assert len(got) == len(exact) > 0
    for flag in exact.index:
        for a, e in (("approx_parts", "parts"), ("approx_supps", "supps")):
            rel = abs(got.loc[flag, a] - exact.loc[flag, e]) / exact.loc[flag, e]
            assert rel < 0.05, (flag, a, rel)  # rsd 0.02 -> 5% is generous
        for a, e in (("ap50", "p50"), ("ap90", "p90")):
            rel = abs(got.loc[flag, a] - exact.loc[flag, e]) / exact.loc[flag, e]
            assert rel < 0.02, (flag, a, rel)


# --------------------------------------------------------------------------
# n-gram Jaccard df cap: the scale guard against inverted-index hot keys
# --------------------------------------------------------------------------


def test_ngram_jaccard_df_cap_kills_hot_shingle(spark):
    """An adversarial shingle present in EVERY doc (the 100-TB hot-key blowup)
    must be dropped by the df cap: otherwise-disjoint docs sharing only that
    shingle produce ZERO candidate pairs, while true near-dups still pair."""
    from i_landsat8_swlst_spark.textops import ngram_jaccard_pairs

    # 20 docs, pairwise-disjoint shingles except those covering " COMMON"
    # (each doc body is a run of its own letter: every shingle touching the
    # body carries that letter and is unique to the doc)
    rows = [{"doc_id": i, "text": chr(97 + i) * 12 + " COMMON"}
            for i in range(20)]
    # plus one true near-dup pair (same text -> jaccard 1.0)
    rows += [{"doc_id": 100, "text": "the exact same document body here"},
             {"doc_id": 101, "text": "the exact same document body here"}]
    docs = spark.createDataFrame(pd.DataFrame(rows))

    got = ngram_jaccard_pairs(docs, df_cap=8).toPandas()
    pairs = set(map(tuple, got[["doc_a", "doc_b"]].to_numpy()))
    assert (100, 101) in pairs
    # no pair among the 20 hot-shingle-only docs survives
    assert not any(a < 100 and b < 100 for a, b in pairs)
    assert float(got.set_index(["doc_a", "doc_b"]).loc[(100, 101), "jaccard"]) == 1.0

    # without the cap the hot key would explode: 20*19/2 candidate pairs
    uncapped = ngram_jaccard_pairs(docs, df_cap=10**9, threshold=0.0).toPandas()
    assert (uncapped[["doc_a", "doc_b"]].lt(100).all(axis=1)).sum() == 190


@pytest.mark.parametrize("id_type", ["int", "smallint", "bigint"])
def test_ngram_jaccard_pairs_keeps_int_doc_id(spark, id_type):
    """An integer ``doc_id`` of any width passes through the shingle Arrow
    pass: the id array is built with the field's own Arrow type, not
    inferred as int64 against a declared narrower column."""
    from i_landsat8_swlst_spark.textops import ngram_jaccard_pairs

    body = "the exact same document body here"
    docs = spark.createDataFrame(pd.DataFrame([
        {"doc_id": 1, "text": body}, {"doc_id": 2, "text": body},
        {"doc_id": 3, "text": "nothing alike at all, other words"}])) \
        .withColumn("doc_id", F.col("doc_id").cast(id_type))
    got = ngram_jaccard_pairs(docs)
    assert dict(got.dtypes)["doc_a"] == id_type
    assert [tuple(r) for r in got.collect()] == [(1, 2, 1.0)]


# --------------------------------------------------------------------------
# q_char_entropy empty-doc guard (ADVICE r3): Spark's sequence(1, 0) yields
# the DESCENDING [1, 0] while DuckDB's range(0, 0) yields nothing — without
# the length>0 filter the engines diverge on an empty document.
# --------------------------------------------------------------------------


def test_char_entropy_empty_doc_matches_duckdb(spark, tmp_path):
    import duckdb

    from i_landsat8_swlst_spark.relational import oracle_sql, queries

    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["aabb", "", "zzzz"],
        "lang_hint": ["en"] * 3,
        "source": ["synth"] * 3,
    })
    docs.to_parquet(tmp_path / "documents.parquet")
    got = queries()["q_char_entropy"](spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{tmp_path}/documents.parquet')")
    exp = con.sql(oracle_sql()["q_char_entropy"]).df()
    # the empty doc appears on NEITHER side
    assert sorted(got["doc_id"]) == sorted(exp["doc_id"]) == [1, 3]
    g = got.sort_values("doc_id").reset_index(drop=True)
    e = exp.sort_values("doc_id").reset_index(drop=True)
    for c in ["n_chars", "alphabet", "entropy_bits"]:
        assert list(g[c].astype(float)) == list(e[c].astype(float)), c


# --------------------------------------------------------------------------
# Bloom-prefiltered decontamination: the bitset can never produce a false
# negative (members always probe true), and the prefiltered pipeline is
# row-identical to the exact q_decontaminate twin.
# --------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_low_fp(spark):
    from i_landsat8_swlst_spark.textops import bloom_build, bloom_might_contain

    members = spark.range(500).select(
        F.concat(F.lit("member-"), F.col("id")).alias("s"))
    bits, m = bloom_build(members, "s")
    probe = spark.range(2500).select(
        F.when(F.col("id") < 500, F.concat(F.lit("member-"), F.col("id")))
         .otherwise(F.concat(F.lit("other-"), F.col("id"))).alias("s"))
    got = probe.select(
        "s", bloom_might_contain(spark, bits, m, "s").alias("hit")).toPandas()
    mem = got[got.s.str.startswith("member-")]
    non = got[got.s.str.startswith("other-")]
    assert mem.hit.all()            # zero false negatives, by construction
    assert non.hit.mean() < 0.05    # m = 16n, k = 4 -> fp ~ 0.24%


def test_decontaminate_bloom_matches_exact(spark):
    from i_landsat8_swlst_spark.textops import (q_decontaminate,
                                                q_decontaminate_bloom)

    exact = q_decontaminate(spark, SF_DIR).toPandas() \
        .sort_values("lang").reset_index(drop=True)
    bloom = q_decontaminate_bloom(spark, SF_DIR).toPandas() \
        .sort_values("lang").reset_index(drop=True)
    pd.testing.assert_frame_equal(exact, bloom)
    assert exact.n_contaminated.sum() > 0  # the case actually exercises hits
