"""Focused gates for the round-7 optimization internals.

Each test pins an equivalence the r7 rewrites rely on, on inputs the
fixed testdata cannot exercise (non-ASCII text, adversarial near-tie
cosines, coarse vs spread inputs), so a future edit can't silently break
the bit-identity arguments documented in the code.
"""

import hashlib

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# minhash Arrow pass: equal to a brute per-shingle reference, including the
# edges the oracle parquet never hits (non-ASCII, short, empty, None text)
# ---------------------------------------------------------------------------


def _brute_minhash(text: str, nperm: int):
    from i_landsat8_swlst_spark.textops import _P, _perm_ab

    n = max(len(text) - 4, 1)
    xs = []
    for i in range(n):
        sh = text[i:i + 5]          # char semantics, exactly substr(text,i+1,5)
        h = hashlib.md5(sh.encode()).hexdigest()
        xs.append(int(h[:8], 16))
    mins = []
    for p in range(nperm):
        a, b = _perm_ab(p)
        mins.append(min((a * x + b) % _P for x in xs))
    return mins


def test_minhash_arrow_pass_matches_brute_reference(spark, tmp_path):
    from i_landsat8_swlst_spark.textops import _NPERM, _SUBSET, _minh_wide

    texts = [
        "hello world this is a plain ascii document",
        "short",
        "tiny",                       # < 5 chars -> one short shingle
        "",                           # empty -> the '' shingle
        "naïve café – ünïcode ✓ text with ümlauts and emoji 🌍 padding",
        "ascii prefix then café half way through the document body",
        "aaaaaaaaaa",                 # heavy duplicate shingles
    ]
    # doc_ids multiples of 3 so every row passes _SUBSET
    pdf = pd.DataFrame({"doc_id": [3 * i for i in range(len(texts))],
                        "text": texts,
                        "lang": "en", "source": "t",
                        "n_chars": [len(t) for t in texts]})
    (tmp_path / "sf").mkdir()
    pdf.to_parquet(tmp_path / "sf" / "documents.parquet", index=False)
    got = {r["doc_id"]: [r[f"mh{i}"] for i in range(_NPERM)]
           for r in _minh_wide(spark, str(tmp_path / "sf")).collect()}
    assert set(got) == set(pdf.doc_id)
    for did, text in zip(pdf.doc_id, texts):
        assert got[did] == _brute_minhash(text, _NPERM), (did, text)
    # sanity: the filter really was exercised
    assert _SUBSET == "doc_id % 3 = 0"


# ---------------------------------------------------------------------------
# q_ann_ivf candidate cut: pruned rounded ranking == brute full ranking on a
# fresh random dataset with engineered near-ties around rounding boundaries
# ---------------------------------------------------------------------------


def test_ann_ivf_pruned_ranking_equals_brute_cross_join(spark, tmp_path):
    from i_landsat8_swlst_spark.textops import q_ann_ivf

    rng = np.random.default_rng(123)
    n, dim = 400, 64
    emb = rng.normal(size=(n, dim)).astype(np.float32)
    # engineered near-duplicates: clusters of almost-identical vectors so
    # many cosines agree to ~1e-7 and the round(.,6) tie-break via cid is
    # actually exercised
    for base in range(0, 60, 3):
        emb[base + 1] = emb[base] + rng.normal(scale=1e-5, size=dim) \
            .astype(np.float32)
        emb[base + 2] = emb[base] + rng.normal(scale=1e-5, size=dim) \
            .astype(np.float32)
    pdf = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": [e for e in emb],
        "label": np.zeros(n, dtype=np.int32),
    })
    (tmp_path / "sf").mkdir()
    pdf.to_parquet(tmp_path / "sf" / "embeddings.parquet", index=False)
    got = q_ann_ivf(spark, str(tmp_path / "sf")).toPandas() \
        .sort_values(["query_id", "rnk"]).reset_index(drop=True)

    # brute reference: the full |V| x |C| assignment via the SQL fold
    # semantics (numpy f64 is the same IEEE sequence per the fold argument)
    E = emb.astype(np.float64)
    cent_mask = (np.arange(n) % 97) == 7
    cids = np.flatnonzero(cent_mask)
    C = E[cent_mask]
    dots = np.zeros((n, len(cids)))
    vn = np.zeros(n)
    cn = np.zeros(len(cids))
    for d in range(dim):
        dots += E[:, d:d + 1] * C[None, :, d]
        vn += E[:, d] * E[:, d]
        cn += C[:, d] * C[:, d]
    cosd = dots / (np.sqrt(vn)[:, None] * np.sqrt(cn)[None, :])
    # replicate Spark round(x, 6) through the JVM itself for exactness
    rdf = spark.createDataFrame(
        pd.DataFrame({"i": np.repeat(np.arange(n), len(cids)),
                      "j": np.tile(np.arange(len(cids)), n),
                      "v": cosd.ravel()}))
    rr = rdf.select("i", "j", F.round("v", 6).alias("r")).toPandas()
    R = np.empty((n, len(cids)))
    R[rr.i.to_numpy(), rr.j.to_numpy()] = rr.r.to_numpy()
    # assignment: per vector argmax of (rounded cos, -cid)
    order = np.lexsort((cids[None, :].repeat(n, 0), -R))  # cid asc within
    assign = cids[order[:, 0]]
    queries = np.flatnonzero(np.arange(n) % 50 == 1)
    top5 = {q: cids[order[q, :5]] for q in queries}
    # candidate sets per query: members of probed clusters, excluding self
    expect_rows = 0
    for q in queries:
        cand = [v for v in range(n) if assign[v] in set(top5[q]) and v != q]
        expect_rows += min(5, len(cand))
    assert len(got) == expect_rows
    # spot-verify the neighbor sets for each query against brute cosine
    for q in queries:
        cand = np.array([v for v in range(n)
                         if assign[v] in set(top5[q]) and v != q])
        if not len(cand):
            continue
        d2 = np.zeros(len(cand))
        for d in range(dim):
            d2 += E[q, d] * E[cand, d]
        cos4 = d2 / (np.sqrt(vn[q]) * np.sqrt(vn[cand]))
        r4df = spark.createDataFrame(
            pd.DataFrame({"k": np.arange(len(cand)), "v": cos4}))
        r4 = r4df.select("k", F.round("v", 4).alias("r")).toPandas() \
            .sort_values("k").r.to_numpy()
        ordq = np.lexsort((cand, -r4))[:5]
        want = cand[ordq]
        sub = got[got.query_id == q].sort_values("rnk")
        assert list(sub.neighbor_id) == list(want), q


# ---------------------------------------------------------------------------
# _coalesce_batches: order preserved, min_rows respected
# ---------------------------------------------------------------------------


def test_coalesce_batches_preserves_rows_and_order():
    import pyarrow as pa

    from i_landsat8_swlst_spark.pipeline import _coalesce_batches

    batches = [pa.RecordBatch.from_arrays(
        [pa.array(list(range(i * 10, i * 10 + 10)))], names=["x"])
        for i in range(17)]
    batches.insert(5, pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.int64())], names=["x"]))  # empty passthrough
    out = list(_coalesce_batches(iter(batches), min_rows=64))
    vals = [v for b in out for v in b.column(0).to_pylist()]
    assert vals == [v for b in batches for v in b.column(0).to_pylist()]
    # all but the tail batch reach the floor
    assert all(b.num_rows >= 64 for b in out[:-1])


# ---------------------------------------------------------------------------
# spread_tiles gating: spreads a coarse parquet scan, leaves repartitioned
# and in-memory inputs untouched
# ---------------------------------------------------------------------------


def test_spread_tiles_gating(spark, tmp_path):
    from i_landsat8_swlst_spark.pipeline import spread_tiles

    pdf = pd.DataFrame({"scene_id": ["S"] * 64,
                        "tile_x": list(range(64)), "tile_y": 0,
                        "w": 4, "h": 4, "lst_bytes": b"\0" * 64})
    path = str(tmp_path / "tiles.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    plan = spread_tiles(scan)._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" in plan          # coarse scan -> spread
    pre = scan.repartition(4)
    plan2 = spread_tiles(pre)._jdf.queryExecution().optimizedPlan().toString()
    assert plan2.count("Repartition") == 1  # caller's choice respected
    mem = spark.createDataFrame(pdf)
    plan3 = spread_tiles(mem)._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in plan3     # in-memory state untouched


def test_spread_tiles_reads_the_parsed_split_size(spark, tmp_path):
    """A Spark-valid ``512k`` split is 512 KiB, not 512 bytes: a ~20 KB
    parquet tile table is below the spread threshold and gets spread."""
    from i_landsat8_swlst_spark.pipeline import spread_tiles

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"scene_id": ["S"] * 64,
                        "tile_x": list(range(64)), "tile_y": 0, "w": 16,
                        "h": 8, "lst_bytes": [rng.bytes(256) for _ in range(64)]})
    path = str(tmp_path / "tiles.parquet")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    size_b = int(scan._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert 10_000 < size_b < 40_000
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "512k")
        plan = spread_tiles(scan)._jdf.queryExecution().optimizedPlan().toString()
    finally:
        spark.conf.set(key, old)
    assert "Repartition" in plan


# ---------------------------------------------------------------------------
# second r07 session: vectorized exact-R3 march == the serial spec walk
# ---------------------------------------------------------------------------


def test_march_targets_matches_serial_spec():
    """_march_targets must reproduce _ray_visible EXACTLY (same IEEE
    comparisons) — randomized maps with NaN holes, fractional observer,
    targets on axes/diagonals, near and far."""
    import math

    import numpy as np

    from i_landsat8_swlst_spark.terrain import _march_targets, _ray_visible

    rng = np.random.default_rng(99)
    for trial in range(8):
        n = 25
        yy, xx = np.mgrid[0:n, 0:n]
        z = rng.uniform(0, 40, (n, n))
        z[rng.random((n, n)) < 0.1] = np.nan   # NaN holes never block
        kgx = xx.ravel().astype(np.int64)
        kgy = yy.ravel().astype(np.int64)
        kz = z.ravel()
        fin = np.isfinite(kz)
        kgx, kgy, kz = kgx[fin], kgy[fin], kz[fin]
        # fractional observer on odd trials (gridline-crossing edge cases)
        ox = 12.0 if trial % 2 == 0 else 11.5
        oy = 12.0 if trial % 2 == 0 else 12.25
        eye = 35.0 + trial
        zmap = {(int(a), int(b)): float(c)
                for a, b, c in zip(kgx, kgy, kz)}
        tgx, tgy, tgz = kgx, kgy, kz           # every finite cell a target
        vis = _march_targets(ox, oy, eye, tgx, tgy, tgz, kgx, kgy, kz)
        want = np.array([
            _ray_visible(ox, oy, eye, int(a), int(b), float(c), zmap)
            for a, b, c in zip(tgx, tgy, tgz)])
        assert np.array_equal(vis, want), \
            f"trial {trial}: {int((vis != want).sum())} mismatches"


# ---------------------------------------------------------------------------
# second r07 session: grouped union-find CC == brute min-label, per key
# ---------------------------------------------------------------------------


def test_cc_min_label_union_find_matches_brute(spark):
    import numpy as np

    from i_landsat8_swlst_spark.regions import _cc_min_label

    rng = np.random.default_rng(7)
    rows_n, rows_e, want = [], [], {}
    for key in ("A", "B"):
        ids_set: set[int] = set()
        while len(ids_set) < 30:           # incl. ids far above 2^53 to
            ids_set.add(int(rng.integers(1, 10 ** 18)))  # pin the -1
        ids = sorted(ids_set)              # sentinel (no float64 path)
        rows_n += [(key, v) for v in ids]
        # chain 0..9, triangle 10..12, isolated 13..29
        edges = [(ids[i], ids[i + 1]) for i in range(9)]
        edges += [(ids[10], ids[11]), (ids[11], ids[12]), (ids[12], ids[10])]
        for v, u in edges:
            rows_e += [(key, v, u), (key, u, v)]
        comp = {v: {v} for v in ids}
        for v, u in edges:
            m = comp[v] | comp[u]
            for x in m:
                comp[x] = m
        for v in ids:
            want[(key, v)] = min(comp[v])
    # a path of diameter 1,199 over shuffled ids above 2^53 (pins the
    # reduction's round count and the int64 id path), and a key made only
    # of singleton nodes (no edge rows at all)
    path = [int(x) for x in (1 << 60) + rng.permutation(1200) * 7919]
    rows_n += [("P", v) for v in path]
    for v, u in zip(path, path[1:]):
        rows_e += [("P", v, u), ("P", u, v)]
    want.update({("P", v): min(path) for v in path})
    rows_n += [("S", v) for v in range(5, 0, -1)]
    want.update({("S", v): v for v in range(1, 6)})
    nodes = spark.createDataFrame(rows_n, ["scene_id", "v"])
    edges_df = spark.createDataFrame(rows_e, ["scene_id", "v", "u"])
    got = {(r["scene_id"], r["v"]): r["label"]
           for r in _cc_min_label(nodes, edges_df).collect()}
    assert got == want


# ---------------------------------------------------------------------------
# second r07 session: pointer-jumping CC round preserves the fixpoint
# ---------------------------------------------------------------------------


def test_cc_round_pointer_jump_converges_to_component_min(spark):
    from pyspark.sql import functions as F

    from i_landsat8_swlst_spark.textops import _cc_round

    # path graph 1-2-3-...-12 (diameter 11) + an isolated self-loop node
    pairs = [(i, i + 1) for i in range(1, 12)]
    sym = [(v, u) for v, u in pairs] + [(u, v) for v, u in pairs]
    nodes = sorted({x for p in pairs for x in p} | {99})
    edges = spark.createDataFrame(
        sym + [(v, v) for v in nodes], ["v", "u"]).localCheckpoint()
    lab = edges.filter("v = u").select("v", F.col("v").alias("label"))
    rounds = 0
    prev = lab.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
    while True:
        lab = _cc_round(edges, lab).localCheckpoint()
        rounds += 1
        s = lab.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        if s == prev:
            break
        prev = s
        assert rounds < 12, "pointer jumping failed to accelerate"
    got = {r["v"]: r["label"] for r in lab.collect()}
    assert got == {**{v: 1 for v in nodes if v != 99}, 99: 99}
    # O(log d) check: diameter 11 must converge well under 11 rounds
    assert rounds <= 7, f"took {rounds} rounds"


# ---------------------------------------------------------------------------
# second r07 session: Arrow shingle sets == explode + substr + DISTINCT
# ---------------------------------------------------------------------------


def test_shingle_sets_matches_substr_semantics(spark):
    from pyspark.sql import functions as F

    from i_landsat8_swlst_spark.textops import _shingle_sets

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "hi"), (3, ""), (4, "aaaaaaa"),
         (5, "naïve café ☕ unicode"), (6, None)],
        ["doc_id", "text"]).select(
            F.col("doc_id").cast("long").alias("doc_id"), "text")
    k = 5
    want = (docs.select(
        "doc_id",
        F.explode(F.sequence(
            F.lit(1), F.greatest(F.length("text") - (k - 1), F.lit(1))))
        .alias("i"), "text")
        .select("doc_id", F.expr(f"substr(text, i, {k})").alias("sh"))
        .distinct())
    got = _shingle_sets(docs, k)
    a = {(r["doc_id"], r["sh"]) for r in want.collect()}
    b = {(r["doc_id"], r["sh"]) for r in got.collect()}
    # the ONE sanctioned delta: the SQL form emits (doc_id, NULL) for a
    # NULL text (greatest() skips NULLs -> i=1 -> substr(NULL,..) = NULL),
    # a row NO consumer can ever see — every consumer equi-joins or
    # groups on sh, and SQL NULL never equi-matches. The Arrow pass drops
    # it at the source; everything non-NULL must match exactly.
    assert {p for p in a if p[1] is not None} == b
    assert all(p[1] is not None for p in b)
