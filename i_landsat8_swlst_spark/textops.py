"""Training-data pipeline operators over documents/embeddings.

Large-scale corpus curation ops the graft adds as first-class components:
exact dedup, shingle MinHash + LSH banding, n-gram Jaccard, SimHash,
language/quality scoring, token stats, fingerprinting, and embedding
similarity search (brute-force top-k + LSH bucketing).

Cross-engine determinism rules (driver hashes values): hashes go through
md5 (identical in Spark and DuckDB; Spark's xxhash64/hash are Spark-specific
so they only appear in rows-only queries), MinHash permutations are exact
BIGINT arithmetic, cosine is computed as an explicit sequential double fold
on both sides and rounded before ranking.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint strings (PEP 563)
from pyspark.sql import Window, functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from .pipeline import _row_map
from .relational import _REGISTRY, load, register

# --------------------------------------------------------------------------
# exact dedup: md5 grouping, keep min doc_id (hash-groupBy dedup)
# --------------------------------------------------------------------------


@register(
    "q_dedup_exact",
    """SELECT md5(text) AS text_hash,
          CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
          CAST(count(*) AS BIGINT) AS n_copies
       FROM documents GROUP BY 1""",
)
def q_dedup_exact(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding over 5-gram shingles — full SQL-expressible twin.
# h_i(x) = (a_i * x + b_i) mod p over x = first-8-hex-digits of md5(shingle).
# 16 permutations, 4 bands of 4 -> candidate pairs share >=1 band.
# --------------------------------------------------------------------------

_P = 4294967311  # prime > 2^32
_NPERM = 16
_BAND = 4
_SUBSET = "doc_id % 3 = 0"  # bound the pair blow-up at sf0.1

_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id, substr(text, CAST(i AS INT) + 1, 5) AS sh
  FROM (SELECT doc_id, text,
               unnest(range(0, greatest(length(text) - 4, 1))) AS i
        FROM documents WHERE {_SUBSET}) src
"""

# DuckDB has no conv(); both engines CAN parse hex via this arithmetic:
# we instead fold the first 8 md5 hex chars through exact integer ops.
_HEXC = "substr(md5(sh), {k}, 1)"
_HEXV = (
    "(CASE WHEN {c} BETWEEN '0' AND '9' THEN ascii({c}) - 48 "
    "ELSE ascii({c}) - 87 END)"
)


def _hex_to_int_sql() -> str:
    terms = []
    for k in range(1, 9):
        c = _HEXC.format(k=k)
        terms.append(f"CAST({_HEXV.format(c=c)} AS BIGINT) * {16 ** (8 - k)}")
    return "(" + " + ".join(terms) + ")"


def _perm_ab(i: int) -> tuple[int, int]:
    return 2 * i + 1, (i * 2654435761) % _P


def _kgram_md5(txt: str, k: int, n: int) -> np.ndarray:
    """int64 hash of each k-CHARACTER gram starting at 0..n-1: the first 4
    md5 digest bytes big-endian, the value the engines' 8-hex-digit fold
    (`_hex_to_int_sql`) computes. Python str slices have JVM ``substr``'s
    character semantics, including the short tail grams; an ASCII text
    slices its utf-8 bytes instead (one byte per character)."""
    md5 = hashlib.md5
    if txt.isascii():
        data = txt.encode()
        digests = [md5(data[i:i + k]).digest()[:4] for i in range(n)]
    else:
        digests = [md5(txt[i:i + k].encode()).digest()[:4] for i in range(n)]
    return np.frombuffer(b"".join(digests), dtype=">u4").astype(np.int64)


def _minhash_sql() -> str:
    # all NPERM min-hashes as parallel aggregate columns over ONE scan of the
    # hashed shingles — the earlier perms CROSS JOIN paid a NPERM x row
    # blow-up through the aggregation exchange (measured 3x the whole query)
    x = _hex_to_int_sql()
    mins = ", ".join(
        f"min(({_perm_ab(i)[0]} * x + {_perm_ab(i)[1]}) % {_P}) AS mh{i}"
        for i in range(_NPERM))
    return f"""
  WITH shingles AS ({_SHINGLES_SQL}),
  hashed AS (SELECT doc_id, {x} AS x FROM shingles),
  minh AS (SELECT doc_id, {mins} FROM hashed GROUP BY doc_id)
"""



def _spread(df, col: str):
    """repartition(N, col) with N pinned to the cluster's core count.

    A bare repartition(col) is AQE-coalescible (REPARTITION_BY_COL): for
    the few-MB inputs these compute-bound stages read, AQE's 16 MB
    advisory size folds the exchange back to 1-2 partitions and the
    whole point of spreading is lost (measured: the minhash signature
    pass ran as TWO tasks). An explicit numPartitions pins it;
    defaultParallelism keeps it scale-adaptive (cores on any cluster).
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, col)

def _minh_wide(spark, sf_dir):
    """One vectorized Arrow pass computes every document's 16 minhashes.

    The round-6 form (explode positions -> substr(text, i, 5) -> md5 ->
    16 min aggregates) was measured at 9.5 s for 4.9M shingles at sf1.0:
    the scan is one parquet row group (single task, guide §2.5), and —
    the bigger surprise — JVM ``substr(text, i, 5)`` is O(i) per call
    (UTF8String locates CHAR positions by scanning), so shingling a
    document is O(len^2). This pass produces the IDENTICAL integers:

    - shingle = 5 CHARACTERS starting at each position 0..max(len-5, 0)
      (Python str slicing is char-based exactly like substr, including
      the short final/whole-string shingles and the '' shingle of an
      empty text);
    - x = first 8 hex digits of md5(utf-8 bytes) parsed base-16 ==
      int.from_bytes(digest[:4], 'big') — the same value the oracle's
      8-term hex fold and Spark's conv(substring(md5..)) compute;
    - mh_i = min over shingles of (a_i * x + b_i) % P in exact int64
      (a_i <= 33, x < 2^32, so a_i*x + b_i < 2^38: no overflow), the
      same BIGINT arithmetic as both engines.

    min() is duplicate-insensitive, so no shingle dedup is needed (the
    oracle keeps its DISTINCT in the shared CTE; same result by that
    algebra, attested by the driver hash gate). The plan keeps exactly
    ONE hash exchange: the repartition that spreads the single-row-group
    scan (the signature itself needs no aggregate shuffle any more).
    """
    d = _spread(load(spark, sf_dir, "documents").filter(_SUBSET), "doc_id")
    ab = [_perm_ab(i) for i in range(_NPERM)]
    a_np = np.array([a for a, _ in ab], dtype=np.int64)[:, None]
    b_np = np.array([b for _, b in ab], dtype=np.int64)[:, None]
    schema = StructType([d.schema["doc_id"]] + [
        StructField(f"mh{i}", LongType()) for i in range(_NPERM)])

    def sigs(row):
        s = row.text
        if s is not None:  # explode(sequence(1, null)) dropped the row
            xs = _kgram_md5(s, 5, max(len(s) - 4, 1))
            yield ((a_np * xs[None, :] + b_np) % _P).min(axis=1).tolist()

    return _row_map(d.select("doc_id", "text"), schema, sigs, ("doc_id",))


@register(
    "q_minhash_signatures",
    _minhash_sql()
    + "SELECT doc_id, "
    + ", ".join(f"CAST(mh{i} AS BIGINT) AS mh{i}" for i in range(_NPERM))
    + " FROM minh",
)
def q_minhash_signatures(spark, sf_dir):
    return _minh_wide(spark, sf_dir)


def _band_concat_sql(b: int) -> str:
    return " || ',' || ".join(
        f"CAST(mh{b * _BAND + j} AS VARCHAR)" for j in range(_BAND))


@register(
    "q_minhash_lsh_pairs",
    _minhash_sql()
    + f""",
    bands AS (SELECT doc_id, t.band,
                 CASE t.band {" ".join(f"WHEN {b} THEN md5({_band_concat_sql(b)})" for b in range(_NPERM // _BAND))} END AS band_key
              FROM minh, (SELECT unnest([{", ".join(str(b) for b in range(_NPERM // _BAND))}]) AS band) t)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
    GROUP BY 1, 2""",
)
def q_minhash_lsh_pairs(spark, sf_dir):
    minh = _minh_wide(spark, sf_dir)
    band_keys = [
        F.md5(F.concat_ws(",", *[F.col(f"mh{b * _BAND + j}").cast("string")
                                 for j in range(_BAND)]))
        for b in range(_NPERM // _BAND)
    ]
    bands = minh.select(
        "doc_id", F.posexplode(F.array(*band_keys)).alias("band", "band_key"))
    a = bands.alias("a")
    b = bands.alias("b")
    # SHUFFLE_HASH instead of the default broadcast: with a broadcast build
    # the two identical minhash subtrees CANNOT share work (no exchange to
    # reuse) and the whole shingle+md5 pipeline runs twice; as a shuffled
    # hash join both sides produce the SAME Exchange hashpartitioning(band,
    # band_key) and ReusedExchange computes the signatures once (guide
    # §2.4: two operations keyed the same way share one exchange). The
    # band rows are a few dozen bytes each, so the shuffle is tiny at any
    # scale.
    return (
        a.join(b.hint("shuffle_hash"),
               (F.col("a.band") == F.col("b.band"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_bands"))
    )


# --------------------------------------------------------------------------
# transitive dedup clusters: connected components over the MinHash-LSH pair
# graph. The near-dup "keeper" ops are 1-hop; real dedup needs the CLOSURE
# (A~B, B~C => {A,B,C} one cluster, one keeper). Spark has no recursive CTE,
# so this is the standard iterative min-label propagation: each round every
# node takes min(own label, neighbors' labels); converges in <= diameter
# rounds; localCheckpoint() per round truncates the growing lineage (exactly
# how large-graph CC is run on clusters — bounded state per round, one
# shuffle per round on the edge key). DuckDB twin: WITH RECURSIVE transitive
# closure + min() — exact integer labels, hash-exact across engines.
# --------------------------------------------------------------------------


def _clusters_sql() -> str:
    pairs_sql = _REGISTRY["q_minhash_lsh_pairs"][1]
    return f"""WITH RECURSIVE pairsq AS ({pairs_sql}),
  edges AS (SELECT doc_a AS v, doc_b AS u FROM pairsq
            UNION ALL SELECT doc_b, doc_a FROM pairsq),
  nodes AS (SELECT DISTINCT v FROM edges),
  reach(v, u) AS (
    SELECT v, v FROM nodes
    UNION
    SELECT e.v, r.u FROM edges e JOIN reach r ON r.v = e.u),
  lab AS (SELECT v AS doc_id, CAST(min(u) AS BIGINT) AS cluster_id
          FROM reach GROUP BY v)
  SELECT doc_id, cluster_id,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
  FROM lab"""


def _cc_round(edges, lab):
    """One min-label CC round: propagate + POINTER JUMP.

    Propagate: each node takes min over its own and its neighbors' labels
    (``edges`` carries a (v, v) self-loop per node, built once by the
    caller, so this is ONE equi join + map-side-combining min — the old
    form needed a second left join with least/coalesce). Jump: labels are
    node ids and every node is labeled, so label[label[v]] is defined and
    <= label[v]; rewriting through it halves the depth of label chains
    per round, collapsing the round count from O(graph diameter) — the
    sf0.1 pair graph measured 23 diameter-bound rounds — to O(log d).
    Every intermediate label stays a member id of v's component and only
    decreases, so the fixpoint (= component min, constant across each
    component) is unchanged. Factored out so tests/test_plans.py can gate
    the per-round exchange count."""
    p = (
        edges.join(lab.select(F.col("v").alias("u"),
                              F.col("label").alias("ulabel")), "u")
        .groupBy("v").agg(F.min("ulabel").alias("label"))
    )
    return (
        p.join(p.select(F.col("v").alias("label"),
                        F.col("label").alias("jlabel")), "label")
        .select("v", F.col("jlabel").alias("label"))
    )


@register("q_dedup_clusters", None)  # SQL attached below (needs pairs SQL registered first)
def q_dedup_clusters(spark, sf_dir):
    pairs = q_minhash_lsh_pairs(spark, sf_dir).select("doc_a", "doc_b")
    sym = (
        pairs.select(F.col("doc_a").alias("v"), F.col("doc_b").alias("u"))
        .unionAll(pairs.select(F.col("doc_b").alias("v"), F.col("doc_a").alias("u")))
    )
    # self-loops let each round fold own+neighbor min into one join (see
    # _cc_round); pairs are reused every round: materialize once
    edges = sym.unionAll(
        sym.select("v").distinct().select("v", F.col("v").alias("u"))
    ).localCheckpoint()
    lab = edges.filter("v = u").select("v", F.col("v").alias("label"))
    # fixpoint detection by the label-sum invariant: labels only ever
    # DECREASE elementwise, so the (exact, decimal) sum is unchanged iff
    # no label changed — one tiny aggregate on the checkpointed frame
    # replaces the old per-round new-vs-old join + count
    prev_sum = lab.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
    while True:
        lab = _cc_round(edges, lab).localCheckpoint()  # truncate lineage
        s = lab.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]
        if s == prev_sum:
            break
        prev_sum = s
    w = Window.partitionBy("cluster_id")
    return (
        lab.select(F.col("v").alias("doc_id"), F.col("label").alias("cluster_id"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w).cast("long"))
    )


_REGISTRY["q_dedup_clusters"] = (q_dedup_clusters, _clusters_sql())


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup pairs (exact set overlap, integer counts).
#
# Candidate generation is an equi self-join on the shingle key — the classic
# inverted-index shape. Its 100-TB failure mode is a stop-word-like shingle
# present in ~every document: that one key joins quadratically. The standard
# fix (plagiarism/near-dup systems) is a DOCUMENT-FREQUENCY CAP: a shingle
# appearing in more than _DF_CAP docs carries no near-dup signal (it is
# corpus-common background) and is dropped BEFORE the self-join, bounding
# any key's fan-out to _DF_CAP^2 pairs. Jaccard is then computed over the
# capped shingle sets on BOTH sides (sizes and intersections), which keeps
# the DuckDB twin exact. tests/test_textops.py injects an adversarial
# every-doc shingle and asserts it produces zero candidate pairs.
# --------------------------------------------------------------------------

_DF_CAP = 64


def _ngram_jaccard_sql(docs_sql: str = _SHINGLES_SQL, df_cap: int = _DF_CAP) -> str:
    return f"""WITH all_sh AS ({docs_sql}),
       df AS (SELECT sh, count(*) AS df FROM all_sh GROUP BY sh),
       shingles AS (SELECT s.doc_id, s.sh FROM all_sh s
                    JOIN df ON df.sh = s.sh WHERE df.df <= {df_cap}),
       sizes AS (SELECT doc_id, count(*) AS n FROM shingles GROUP BY doc_id),
       inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                 FROM shingles a JOIN shingles b
                   ON a.sh = b.sh AND a.doc_id < b.doc_id
                 GROUP BY 1, 2)
       SELECT doc_a, doc_b,
              round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
       FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       JOIN sizes sb ON sb.doc_id = doc_b
       WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.08"""


def _shingle_sets(docs, k: int):
    """(doc_id, sh) distinct k-char shingles per document, as ONE Arrow
    pass: python str slices have the same CHARACTER semantics as JVM
    ``substr(text, i, k)`` — including the short tail when len < k and
    the '' shingle of an empty doc — so the per-doc set equals the old
    explode+substr+DISTINCT (which paid O(len^2) substr scans per doc
    plus a global exchange). One sanctioned delta: a NULL text emitted a
    (doc_id, NULL) row in the SQL form (greatest() skips NULLs); this
    pass emits nothing — equivalent for every consumer, since they all
    equi-join or group on ``sh`` and SQL NULL never equi-matches
    (pinned by test_shingle_sets_matches_substr_semantics)."""
    sh_schema = StructType([docs.schema["doc_id"], StructField("sh", StringType())])

    def shingles(row):
        txt = row.text
        if txt is not None:
            for sh in {txt[i:i + k] for i in range(max(len(txt) - (k - 1), 1))}:
                yield (sh,)

    return _row_map(docs.select("doc_id", "text"), sh_schema, shingles, ("doc_id",))


def ngram_jaccard_pairs(docs, df_cap: int = _DF_CAP, threshold: float = 0.08):
    """Near-dup pairs by exact Jaccard over df-capped 5-gram shingle sets.

    docs: DataFrame(doc_id, text). One shuffle family on the shingle key
    (df agg + kept join + self-join share the partitioning), then one on
    the pair key; no key can fan out past df_cap^2 candidate rows.
    """
    sh = _shingle_sets(docs, 5)
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    # kept feeds three subtrees (sizes + both sides of the self-join);
    # materialize once per invocation (see _decon_frames)
    kept = sh.join(df.filter(F.col("df") <= df_cap), "sh") \
        .select("doc_id", "sh").localCheckpoint()
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = kept.alias("a")
    b = kept.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i").cast("double") / (F.col("sa.n") + F.col("sb.n") - F.col("i"))
    return (
        inter.join(sa, F.col("sa.doc_id") == F.col("doc_a"))
        .join(sb, F.col("sb.doc_id") == F.col("doc_b"))
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


@register("q_ngram_jaccard", _ngram_jaccard_sql())
def q_ngram_jaccard(spark, sf_dir):
    return ngram_jaccard_pairs(load(spark, sf_dir, "documents").filter(_SUBSET))


# --------------------------------------------------------------------------
# token stats / quality scoring / language heuristic / fingerprint
# --------------------------------------------------------------------------

_NTOK = "(length(text) - length(replace(text, ' ', '')) + 1)"


@register(
    "q_token_stats",
    f"""SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum({_NTOK}) AS BIGINT) AS total_tokens,
           round(CAST(sum({_NTOK}) AS DOUBLE) / count(*), 6) AS avg_tokens,
           CAST(max(n_chars) AS BIGINT) AS max_chars
        FROM documents GROUP BY lang""",
)
def q_token_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    ntok = F.expr(_NTOK)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).cast("long").alias("total_tokens"),
        F.round(F.sum(ntok).cast("double") / F.count(F.lit(1)), 6).alias("avg_tokens"),
        F.max("n_chars").alias("max_chars"),
    )


_STOP = "('a','the','and','of','to','in','is','row','data','value')"


@register(
    "q_lang_id",
    f"""WITH toks AS (
          SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents
       ), scored AS (
          SELECT doc_id, any_value(lang) AS lang,
                 CAST(count(*) AS BIGINT) AS n_tok,
                 CAST(sum(CASE WHEN tok IN {_STOP} THEN 1 ELSE 0 END) AS BIGINT) AS n_stop
          FROM toks GROUP BY doc_id
       )
       SELECT doc_id, lang, n_tok, n_stop,
              round(CAST(n_stop AS DOUBLE) / n_tok, 6) AS stop_ratio,
              CASE WHEN CAST(n_stop AS DOUBLE) / n_tok > 0.08 THEN 'en_like' ELSE 'other' END AS lang_pred
       FROM scored""",
)
def q_lang_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
    scored = toks.groupBy("doc_id").agg(
        F.first("lang").alias("lang"),
        F.count(F.lit(1)).alias("n_tok"),
        F.sum(F.expr(f"CASE WHEN tok IN {_STOP} THEN 1 ELSE 0 END")).alias("n_stop"),
    )
    ratio = F.col("n_stop").cast("double") / F.col("n_tok")
    return scored.select(
        "doc_id", "lang", "n_tok", "n_stop",
        F.round(ratio, 6).alias("stop_ratio"),
        F.when(ratio > 0.08, "en_like").otherwise("other").alias("lang_pred"),
    )


@register(
    "q_quality_score",
    f"""SELECT doc_id,
           CAST({_NTOK} AS BIGINT) AS n_tok,
           round(CAST(length(text) AS DOUBLE) / {_NTOK}, 6) AS avg_tok_len,
           CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS BIGINT) AS n_punct,
           round(least(CAST({_NTOK} AS DOUBLE) / 64.0, 1.0)
                 * (1.0 - CAST(length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                          / length(text)), 6) AS quality
        FROM documents""",
)
def q_quality_score(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    ntok = F.expr(_NTOK).cast("double")
    npunct = F.length(F.regexp_replace("text", "[a-z0-9 ]", "")).cast("double")
    return d.select(
        "doc_id",
        F.expr(_NTOK).cast("long").alias("n_tok"),
        F.round(F.length("text").cast("double") / ntok, 6).alias("avg_tok_len"),
        npunct.cast("long").alias("n_punct"),
        F.round(F.least(ntok / 64.0, F.lit(1.0)) * (1.0 - npunct / F.length("text")), 6).alias("quality"),
    )


@register(
    "q_fingerprint",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          CAST(count(DISTINCT md5(lower(regexp_replace(text, '[^a-z0-9]', '', 'g')))) AS BIGINT)
            AS n_distinct_fp
       FROM documents GROUP BY source""",
)
def q_fingerprint(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.lower(F.regexp_replace("text", "[^a-z0-9]", "")))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(fp).alias("n_distinct_fp"),
    )


# --------------------------------------------------------------------------
# character-entropy quality signal (perplexity proxy): low-entropy docs are
# boilerplate/repetitive junk; the classic cheap pre-filter before model-
# based scoring. H = (ln n - (1/n) * sum_ch c*ln c) / ln 2 bits/char.
# Cross-engine exactness: the per-char partial sums fold SEQUENTIALLY over
# the char-sorted count list (sort_array+aggregate in Spark, list(ORDER BY)+
# list_reduce in DuckDB) — same IEEE op order, bit-identical doubles (the
# same technique as the cosine twin's explicit fold).
# --------------------------------------------------------------------------


@register(
    "q_char_entropy",
    """WITH chars AS (
         SELECT doc_id, substr(text, CAST(i AS INT) + 1, 1) AS ch
         FROM (SELECT doc_id, text,
                      unnest(range(0, length(text))) AS i FROM documents
               WHERE length(text) > 0) src
       ),
       cnt AS (SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2),
       folded AS (
         SELECT doc_id,
                CAST(sum(c) AS BIGINT) AS n_chars2,
                CAST(count(*) AS BIGINT) AS alphabet,
                list_reduce(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                 ORDER BY ch),
                            (x, y) -> x + y) AS s
         FROM cnt GROUP BY doc_id)
       SELECT doc_id, n_chars2 AS n_chars, alphabet,
              round((ln(CAST(n_chars2 AS DOUBLE)) - s / n_chars2) / ln(2.0), 6)
                AS entropy_bits
       FROM folded""",
)
def q_char_entropy(spark, sf_dir):
    # ONE Arrow pass replaces the per-char explode (O(len^2) JVM substr +
    # a (doc, ch) exchange): python iterates code points exactly as
    # substr(text, i, 1), counts are exact integers, and the partial sum
    # folds SEQUENTIALLY over the ch-sorted count list — python sorted()
    # orders strings by code point == the engines' binary UTF-8 ORDER BY,
    # and the ln/multiply/add fold runs in the documented cross-engine
    # order, so the entropy agrees with the engines after round(6) (libm
    # ln is not promised bit-identical across engines). Empty docs emit no
    # row (the old length > 0 guard); the entropy expression and its
    # HALF_UP round stay in the JVM, unchanged.
    from collections import Counter
    from math import log as _ln

    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    out_schema = StructType([
        d.schema["doc_id"],
        StructField("n_chars", LongType(), False),
        StructField("alphabet", LongType(), False),
        StructField("s", DoubleType(), False),
    ])

    def fold(row):
        txt = row.text
        if txt:
            cnt = Counter(txt)
            s = 0.0
            for ch in sorted(cnt):
                c = float(cnt[ch])
                s += c * _ln(c)
            yield len(txt), len(cnt), s

    folded = _row_map(d.select("doc_id", "text"), out_schema, fold, ("doc_id",))
    ent = (F.log(F.col("n_chars").cast("double")) - F.col("s") / F.col("n_chars")) / F.log(F.lit(2.0))
    return folded.select("doc_id", "n_chars", "alphabet",
                         F.round(ent, 6).alias("entropy_bits"))


# --------------------------------------------------------------------------
# repetition-ratio quality signal: share of the document taken by its single
# most frequent token — the standard cheap repetition/boilerplate filter.
# --------------------------------------------------------------------------


@register(
    "q_repetition_ratio",
    """WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       ),
       cnt AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
       agg AS (SELECT doc_id,
                      CAST(sum(c) AS BIGINT) AS n_tok,
                      CAST(max(c) AS BIGINT) AS top_tok_n,
                      CAST(count(*) AS BIGINT) AS vocab
               FROM cnt GROUP BY doc_id)
       SELECT doc_id, n_tok, top_tok_n, vocab,
              round(CAST(top_tok_n AS DOUBLE) / n_tok, 6) AS rep_ratio,
              CASE WHEN CAST(top_tok_n AS DOUBLE) / n_tok > 0.2
                   THEN 1 ELSE 0 END AS is_repetitive
       FROM agg""",
)
def q_repetition_ratio(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    cnt = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok"),
        F.max("c").alias("top_tok_n"),
        F.count(F.lit(1)).alias("vocab"),
    )
    ratio = F.col("top_tok_n").cast("double") / F.col("n_tok")
    return agg.select(
        "doc_id", "n_tok", "top_tok_n", "vocab",
        F.round(ratio, 6).alias("rep_ratio"),
        F.when(ratio > 0.2, 1).otherwise(0).alias("is_repetitive"),
    )


# --------------------------------------------------------------------------
# embedding similarity search
# --------------------------------------------------------------------------

# explicit sequential double fold -> identical fp result in both engines.
# (An unrolled 64-term codegen sum was prototyped in r7 and measured 10x
# SLOWER than this interpreted fold at sf1.0 — the single ~400-node
# expression exceeds the JIT's huge-method limit and runs as un-JIT-ted
# bytecode. The fold stays; parallelism comes from repartitioning the
# single-row-group input instead.)
_DOT_SPARK = (
    "aggregate(zip_with(CAST(a.embedding AS array<double>), CAST(b.embedding AS array<double>),"
    " (x, y) -> x * y), 0D, (acc, v) -> acc + v)"
)

_DOT_DUCK = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
_NRM_DUCK = "sqrt(list_dot_product(CAST({t}.embedding AS DOUBLE[]), CAST({t}.embedding AS DOUBLE[])))"

# per-vector norm, computed ONCE before any join (the joined-row form
# re-evaluates the 64-element fold per PAIR — |Q| x n times instead of n).
# transform(e, x -> x*x) folds the same products in the same order as
# zip_with(e, e, ...), so the value is bit-identical to the oracle's
# list_dot_product(e, e).
_NRM_SELF = (
    "sqrt(aggregate(transform(CAST(embedding AS array<double>), x -> x * x),"
    " 0D, (acc, v) -> acc + v))"
)


@register(
    "q_embed_cosine_topk",
    f"""WITH pairs AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                round({_DOT_DUCK} / ({_NRM_DUCK.format(t='a')} * {_NRM_DUCK.format(t='b')}), 4) AS cos
         FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
         WHERE a.vec_id % 50 = 0
       )
       SELECT query_id, neighbor_id, cos FROM (
         SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY cos DESC, neighbor_id) AS rnk
         FROM pairs) WHERE rnk <= 5""",
)
def q_embed_cosine_topk(spark, sf_dir):
    """EXACT brute-force top-k: query-subset x all join, O(|Q| * n).

    This is the small-scale recall oracle and exactness twin ONLY — at 100-TB
    scale route through q_ann_ivf (coarse-quantizer candidates, equi-join
    plan) whose recall@k floor is asserted against this form in
    tests/test_textops.py. Not a bench headline for that reason.
    repartition("vec_id") spreads the single-row-group scan so the |Q| x n
    nested loop and the top-k window run on every core (guide §2.5)."""
    e = _spread(load(spark, sf_dir, "embeddings"), "vec_id") \
        .withColumn("nrm", F.expr(_NRM_SELF))
    a = e.filter("vec_id % 50 = 0").alias("a")
    b = e.alias("b")
    cos = F.round(F.expr(_DOT_SPARK) / (F.col("a.nrm") * F.col("b.nrm")), 4)
    pairs = a.join(b, F.col("b.vec_id") != F.col("a.vec_id")).select(
        F.col("a.vec_id").alias("query_id"),
        F.col("b.vec_id").alias("neighbor_id"),
        cos.alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return pairs.withColumn("rnk", F.row_number().over(w)).filter("rnk <= 5").drop("rnk")


# 64-bit SimHash over whitespace tokens. The 64 bits come from md5(token)
# split into two exact 32-bit halves (hex chars 1-8 and 9-16) — the same
# cross-engine md5 fold MinHash uses, so the whole operator is hash-exact
# in DuckDB and fully twinned (was rows-only while it used Spark-specific
# xxhash64). Bit 63 folds in as +MIN_LONG: both engines raise on 1<<63 but
# two's-complement addition of the sign bit is exact and overflow-free.

_MIN_LONG = -9223372036854775808


def _md5_half_sql(var: str, start: int) -> str:
    """Exact integer value of 8 hex chars of column ``var`` (no conv() in
    DuckDB — same per-char fold as the MinHash twin)."""
    terms = []
    for k in range(start, start + 8):
        c = f"substr({var}, {k}, 1)"
        terms.append(f"CAST({_HEXV.format(c=c)} AS BIGINT) * {16 ** (8 - (k - start + 1))}")
    return "(" + " + ".join(terms) + ")"


def _simhash_sql() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN ({'h1' if j < 32 else 'h2'} >> {j % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS b{j}"
        for j in range(64))
    val = " + ".join(
        f"(CASE WHEN b{j} > 0 THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(63))
    val += f" + (CASE WHEN b63 > 0 THEN CAST({_MIN_LONG} AS BIGINT) ELSE 0 END)"
    return f"""WITH toks AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       ),
       h AS (SELECT doc_id, md5(tok) AS m FROM toks),
       x AS (SELECT doc_id, {_md5_half_sql('m', 1)} AS h1,
                    {_md5_half_sql('m', 9)} AS h2 FROM h),
       s AS (SELECT doc_id, {sums} FROM x GROUP BY doc_id)
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST({val} AS BIGINT) AS simhash64 FROM s"""


@register("q_simhash64", _simhash_sql())
def q_simhash64(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    m = F.md5("tok")
    x = toks.select(
        "doc_id",
        F.conv(F.substring(m, 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring(m, 9, 8), 16, 10).cast("long").alias("h2"),
    )
    # per bit j: sum(+1/-1) over tokens, sign -> bit j; ONE map-side-combining
    # aggregation is the only shuffle (64 parallel sum columns)
    bits = [
        F.sum(
            F.when(F.shiftright(F.col("h1" if j < 32 else "h2"), j % 32)
                   .bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(64)
    ]
    agg = x.groupBy("doc_id").agg(*bits)
    sim = None
    for j in range(63):
        term = F.when(F.col(f"b{j}") > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    sim = sim + F.when(F.col("b63") > 0, F.lit(_MIN_LONG)).otherwise(F.lit(0).cast("long"))
    return agg.select("doc_id", sim.alias("simhash64"))


# axis-aligned-hyperplane LSH bucketing (exact, no fp accumulation at all)
_LSH_DIMS = [3, 11, 19, 27, 35, 43, 51, 59]


def _bucket_sql(tbl: str) -> str:
    return " + ".join(
        f"(CASE WHEN {tbl}embedding[{d + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i, d in enumerate(_LSH_DIMS)
    )


@register(
    "q_ann_lsh_buckets",
    f"""SELECT CAST({_bucket_sql('')} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_vecs,
           CAST(min(vec_id) AS BIGINT) AS min_vec_id
        FROM embeddings GROUP BY 1""",
)
def q_ann_lsh_buckets(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    bucket = sum(
        (F.when(F.element_at("embedding", d + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0)))
        for i, d in enumerate(_LSH_DIMS)
    ).cast("long")
    return e.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.min("vec_id").alias("min_vec_id"),
    )


# --------------------------------------------------------------------------
# BPE-ish token counting: regex word/number/punct pieces (identical RE
# semantics in Java regex and DuckDB's RE2 for this alternation)
# --------------------------------------------------------------------------

_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@register(
    "q_bpe_tokens",
    f"""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(text, '{_BPE_RE}', 0))) AS BIGINT) AS total_pieces,
           round(CAST(sum(len(regexp_extract_all(text, '{_BPE_RE}', 0))) AS DOUBLE)
                 / sum({{ntok}}), 6) AS pieces_per_ws_token
        FROM documents GROUP BY source""".format(ntok=_NTOK),
)
def q_bpe_tokens(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pieces = F.size(F.expr(f"regexp_extract_all(text, '{_BPE_RE}', 0)"))
    ws = F.expr(_NTOK)
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(pieces).cast("long").alias("total_pieces"),
        F.round(F.sum(pieces).cast("double") / F.sum(ws), 6).alias("pieces_per_ws_token"),
    )


# --------------------------------------------------------------------------
# Winnowing document fingerprints (Schleimer et al. rolling-window scheme):
# k-gram hashes (k=8, same exact md5->int fold as MinHash), sliding window of
# w=6 positions, fingerprint = window minimum. Both engines run the identical
# window-min frame, so the selected fingerprint SET matches exactly.
# --------------------------------------------------------------------------

_WINNOW_K = 8
_WINNOW_W = 6
_WINNOW_SUBSET = "doc_id % 7 = 0"


def _winnow_grams_sql() -> str:
    return f"""
  SELECT doc_id, CAST(i AS BIGINT) AS i,
         substr(text, CAST(i AS INT) + 1, {_WINNOW_K}) AS sh
  FROM (SELECT doc_id, text,
               unnest(range(0, length(text) - {_WINNOW_K} + 1)) AS i
        FROM documents
        WHERE {_WINNOW_SUBSET} AND length(text) >= {_WINNOW_K}) src
"""


@register(
    "q_winnow_fingerprint",
    f"""WITH grams AS ({_winnow_grams_sql()}),
       hashed AS (SELECT doc_id, i, {_hex_to_int_sql()} AS h FROM grams),
       wmins AS (SELECT doc_id, i,
                        min(h) OVER (PARTITION BY doc_id ORDER BY i
                                     ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING) AS fp,
                        count(*) OVER (PARTITION BY doc_id) AS n_pos
                 FROM hashed)
       SELECT doc_id,
              CAST(any_value(n_pos) AS BIGINT) AS n_kgrams,
              CAST(count(DISTINCT fp) AS BIGINT) AS n_fingerprints,
              CAST(min(fp) AS BIGINT) AS min_fp,
              CAST(max(fp) AS BIGINT) AS max_fp
       FROM wmins WHERE i + {_WINNOW_W - 1} <= n_pos - 1
       GROUP BY doc_id""",
)
def q_winnow_fingerprint(spark, sf_dir):
    # ONE Arrow pass per document replaces explode + O(len^2) JVM substr
    # + md5-per-gram + the doc-partitioned window shuffle. Exactness:
    # python str slices == substr char semantics (the _shingle_sets /
    # minhash argument); the 8-hex-digit md5 fold == the first 4 digest
    # bytes big-endian (the committed minhash identity); window minima,
    # distinct counts and min/max are integer algebra — no fp anywhere.
    # A doc with fewer than w full windows emits no row, exactly as the
    # old i + w - 1 <= n_pos - 1 filter + groupBy produced no group.
    d = load(spark, sf_dir, "documents").filter(_WINNOW_SUBSET).filter(
        F.length("text") >= _WINNOW_K)
    out_schema = StructType([
        d.schema["doc_id"],
        StructField("n_kgrams", LongType(), False),
        StructField("n_fingerprints", LongType(), False),
        StructField("min_fp", LongType(), False),
        StructField("max_fp", LongType(), False),
    ])
    k, wdw = _WINNOW_K, _WINNOW_W

    def fp(row):
        txt = row.text
        n_pos = -1 if txt is None else len(txt) - k + 1
        if n_pos >= wdw:
            mins = np.lib.stride_tricks.sliding_window_view(
                _kgram_md5(txt, k, n_pos), wdw).min(axis=1)
            yield n_pos, len(np.unique(mins)), int(mins.min()), int(mins.max())

    return _row_map(d.select("doc_id", "text"), out_schema, fp, ("doc_id",))


# --------------------------------------------------------------------------
# embedding-cosine near-duplicate dedup, LSH-bucketed (the 100-TB-scale
# plan): sign-bit bands -> band-key equi self-join for candidates -> exact
# cosine verify -> keeper = min vec_id over the near-dup neighborhood
# (including self) — the embedding analog of q_dedup_exact.
#
# The driver embeddings table has no true near-dups (max pairwise cos 0.46
# at sf0.01), so the query injects them deterministically: each subset
# vector gets a twin with ONLY dim 0 perturbed (emb[0]*1.5 + 0.25), ids
# offset by 1e6. Cosine(orig, twin) >= 0.948 for every vector while every
# other pair stays <= 0.55, so threshold 0.9 separates exactly. Recall is
# 1.0 BY PIGEONHOLE: a twin differs in one dim -> at most one of the 16
# 4-dim sign bands can differ -> the pair always shares >= 15 band buckets
# (same guarantee structure as mediaops.phash_neardup). Verified against
# the brute-force all-pairs oracle in tests/test_textops.py, which is the
# only remaining home of the O(n^2) form.
# --------------------------------------------------------------------------

_ND_THRESH = 0.9
_ND_SUBSET = "vec_id % 5 = 0"
_ND_BANDS = 16  # 16 bands x 4 sign bits = all 64 dims


def _dot_duck(x: str, y: str) -> str:
    return f"list_dot_product(CAST({x}.embedding AS DOUBLE[]), CAST({y}.embedding AS DOUBLE[]))"


def _nrm_duck(t: str) -> str:
    return f"sqrt({_dot_duck(t, t)})"


def _dot_spark(x: str, y: str) -> str:
    return (
        f"aggregate(zip_with(CAST({x}.embedding AS array<double>),"
        f" CAST({y}.embedding AS array<double>), (p, q) -> p * q),"
        " 0D, (acc, v) -> acc + v)"
    )


def _nd_bucket_duck() -> str:
    return " + ".join(
        f"(CASE WHEN emb[t.band * 4 + {i + 1}] > 0 THEN {1 << i} ELSE 0 END)"
        for i in range(4)
    )


def _dotd_duck(x: str, y: str) -> str:
    return f"list_dot_product({x}.emb, {y}.emb)"


def _dotd_spark(x: str, y: str) -> str:
    return (
        f"aggregate(zip_with({x}.emb, {y}.emb, (p, q) -> p * q),"
        " 0D, (acc, v) -> acc + v)"
    )


@register(
    "q_embed_neardup",
    f"""WITH sub AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                   FROM embeddings WHERE {_ND_SUBSET}),
       allv AS (
         SELECT vec_id, emb FROM sub
         UNION ALL
         SELECT vec_id + 1000000,
                list_prepend(emb[1] * CAST(1.5 AS DOUBLE) + CAST(0.25 AS DOUBLE), emb[2:])
         FROM sub),
       bands AS (
         SELECT vec_id, CAST(t.band AS BIGINT) AS band,
                CAST({_nd_bucket_duck()} AS BIGINT) AS bucket
         FROM allv, range({_ND_BANDS}) t(band)),
       cand AS (
         SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       pairs AS (
         SELECT ia, ib FROM (
           SELECT cand.ia, cand.ib,
                  round({_dotd_duck('x', 'y')}
                        / (sqrt({_dotd_duck('x', 'x')}) * sqrt({_dotd_duck('y', 'y')})), 4) AS cos
           FROM cand JOIN allv x ON x.vec_id = cand.ia
                     JOIN allv y ON y.vec_id = cand.ib)
         WHERE cos >= {_ND_THRESH}),
       edges AS (SELECT ia AS v, ib AS u FROM pairs
                 UNION ALL SELECT ib, ia FROM pairs
                 UNION ALL SELECT vec_id, vec_id FROM allv)
       SELECT v AS vec_id, CAST(min(u) AS BIGINT) AS keeper_id,
              CAST(count(*) - 1 AS BIGINT) AS n_neardups,
              CAST(CASE WHEN min(u) < v THEN 1 ELSE 0 END AS BIGINT) AS is_dup
       FROM edges GROUP BY v""",
)
def q_embed_neardup(spark, sf_dir):
    sub = (
        load(spark, sf_dir, "embeddings").filter(_ND_SUBSET)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )
    dup = sub.select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.concat(
            F.array(F.element_at("emb", 1) * 1.5 + 0.25),
            F.slice("emb", 2, 63),
        ).alias("emb"),
    )
    allv = sub.unionAll(dup).withColumn(
        "nrm",
        F.sqrt(F.expr("aggregate(transform(emb, x -> x * x), 0D, (acc, v) -> acc + v)")))
    bucket = sum(
        F.when(F.element_at("emb", F.col("band") * 4 + (i + 1)) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(4)
    ).cast("long")
    bands = (
        allv.select("vec_id", "emb",
                    F.explode(F.sequence(F.lit(0), F.lit(_ND_BANDS - 1))).alias("band"))
        .select("vec_id", F.col("band").cast("long").alias("band"), bucket.alias("bucket"))
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"))
        .distinct()
    )
    x, y = allv.alias("x"), allv.alias("y")
    # norms precomputed per vector above (bit-identical: transform-square
    # folds the same products in the same order as the zip_with self-dot)
    cos = F.round(
        F.expr(_dotd_spark("x", "y")) / (F.col("x.nrm") * F.col("y.nrm")), 4)
    pairs = (
        cand.join(x, F.col("x.vec_id") == F.col("ia"))
        .join(y, F.col("y.vec_id") == F.col("ib"))
        .select("ia", "ib", cos.alias("cos"))
        .filter(F.col("cos") >= _ND_THRESH)
    )
    edges = (
        pairs.select(F.col("ia").alias("v"), F.col("ib").alias("u"))
        .unionAll(pairs.select(F.col("ib").alias("v"), F.col("ia").alias("u")))
        .unionAll(allv.select(F.col("vec_id").alias("v"), F.col("vec_id").alias("u")))
    )
    return edges.groupBy(F.col("v").alias("vec_id")).agg(
        F.min("u").alias("keeper_id"),
        (F.count(F.lit(1)) - 1).alias("n_neardups"),
        F.when(F.min("u") < F.col("v"), 1).otherwise(0).cast("long").alias("is_dup"),
    )


# --------------------------------------------------------------------------
# IVF approximate nearest neighbors: deterministic coarse quantizer (every
# 97th vector is a centroid), assign all vectors to their nearest centroid,
# probe the nprobe=2 closest clusters per query, exact top-k inside the
# probed clusters. Fully SQL-twinned (the scale path: the assignment join is
# |V| x |C| with C ~ sqrt(|V|) broadcast, candidates shrink by ~|C|/nprobe).
# --------------------------------------------------------------------------

_IVF_CENT = "vec_id % 97 = 7"
_IVF_QRY = "vec_id % 50 = 1"
# operating point measured vs brute force (tests/test_textops.py): nprobe
# 2 -> recall@5 0.64 @ 33% of candidates, 3 -> 0.82 @ 51%, 4 -> 0.90 @ 68%,
# 5 -> 0.96 @ 83%
# (ratios at this tiny |C|=6; at scale |C| ~ sqrt(n) and nprobe/|C| shrinks:
# n=10^6 -> |C|=10^3 -> nprobe=5 probes 0.5% of the corpus per query).
# nprobe=5 holds the pytest recall floor at 0.9 with real margin (VERDICT r4
# item 9; 4 measured exactly 0.900 — zero headroom against a reseeded
# dataset). A Lloyd-refined quantizer was prototyped and did NOT beat the
# modulo seed on this data (0.64 -> 0.66 -> 0.62 over 3 iterations — the
# embeddings are not cluster-structured), so the deterministic quantizer
# stays.
_IVF_NPROBE = 5
_IVF_K = 5


@register(
    "q_ann_ivf",
    f"""WITH cent AS (SELECT vec_id AS cid, embedding FROM embeddings WHERE {_IVF_CENT}),
       assign0 AS (
         SELECT v.vec_id, c.cid,
                round({_dot_duck('v', 'c')} / ({_nrm_duck('v')} * {_nrm_duck('c')}), 6) AS cosd
         FROM embeddings v CROSS JOIN cent c),
       assign AS (SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cosd DESC, cid) AS rn
           FROM assign0) WHERE rn = 1),
       probe AS (SELECT vec_id AS qid, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id ORDER BY cosd DESC, cid) AS rn
           FROM assign0 WHERE {_IVF_QRY}) WHERE rn <= {_IVF_NPROBE}),
       cand AS (SELECT p.qid, a.vec_id AS nid
                FROM probe p JOIN assign a ON a.cid = p.cid AND a.vec_id != p.qid),
       scored AS (
         SELECT cand.qid, cand.nid,
                round({_dot_duck('q', 'n')} / ({_nrm_duck('q')} * {_nrm_duck('n')}), 4) AS cos
         FROM cand JOIN embeddings q ON q.vec_id = cand.qid
                   JOIN embeddings n ON n.vec_id = cand.nid)
       SELECT qid AS query_id, nid AS neighbor_id, cos, CAST(rnk AS BIGINT) AS rnk FROM (
         SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rnk
         FROM scored) WHERE rnk <= {_IVF_K}""",
)
def q_ann_ivf(spark, sf_dir):
    """The |V| x |C| assignment stage is the cost of this operator. Round-6
    ran it as a Catalyst cross join whose per-pair cosine was an interpreted
    higher-order-function fold — measured 31 s at sf1.0 (and single-task:
    embeddings ships as one parquet row group). Round 7 moves the raw
    arithmetic into ONE vectorized mapInArrow pass (guide §4.2/§8: decide
    with small rows):

    - the centroid matrix (model-sized, like every kmeans/maxlik model in
      this engine) is sc.broadcast; each task folds its vectors against it
      with the EXACT same IEEE op sequence as the SQL fold (acc starts at
      0.0 and adds the elementwise products in dimension order — a
      per-dimension `acc += v_d * c_d` loop IS that fold, so dot, norm and
      ratio are bit-identical to the oracle's list_dot_product algebra);
    - ROUNDING AND RANKING STAY IN THE JVM: the pass emits the raw ratio
      and only prunes pairs that provably cannot appear in the rounded
      top-k. Monotonicity of round(.,6) gives the bound: any pair tying
      with the k-th rounded value has raw >= (k-th largest raw) - 1e-6, so
      a cut at kth_raw - 2e-6 keeps every top-k member AND every pair
      ranked above one, which makes the window's row_number over the subset
      identical to the full-cross-join ranking. Emitted rows drop from
      |V| x |C| to ~|V| + nprobe-slack.
    """
    import numpy as np
    import pyarrow as pa

    from .pipeline import _coalesce_batches

    # norms precomputed per VECTOR, not per joined pair (bit-identical value,
    # |V|+|C| folds instead of |V|*|C|); repartition("vec_id") spreads the
    # single-row-group scan AND pre-establishes the partitioning every
    # downstream per-vector window needs (guide §2.5)
    e = _spread(load(spark, sf_dir, "embeddings"), "vec_id") \
        .withColumn("nrm", F.expr(_NRM_SELF))
    cent_pdf = load(spark, sf_dir, "embeddings").filter(_IVF_CENT) \
        .select("vec_id", "embedding").toPandas().sort_values("vec_id")
    cids_np = cent_pdf.vec_id.to_numpy("int64")
    c32 = np.array(list(cent_pdf.embedding), dtype=np.float32) \
        if len(cent_pdf) else np.zeros((0, 0), dtype=np.float32)
    bc = spark.sparkContext.broadcast((cids_np, c32))
    qmod, qval = 50, 1  # _IVF_QRY

    def assign_cand(batches):
        cids, c32_ = bc.value
        nc = len(cids)
        if nc == 0:
            return
        cm = c32_.astype(np.float64)
        ndim = cm.shape[1]
        cn = np.zeros(nc)
        for d in range(ndim):          # exact fold: 0D + q1*q1 + q2*q2 ...
            cn += cm[:, d] * cm[:, d]
        cnrm = np.sqrt(cn)
        for batch in _coalesce_batches(batches, 2048):
            vid = batch.column(0).to_numpy(zero_copy_only=False) \
                .astype(np.int64)
            flat = batch.column(1).flatten().to_numpy(zero_copy_only=False)
            vm = flat.reshape(len(vid), ndim).astype(np.float64)
            dots = np.zeros((len(vid), nc))
            vn = np.zeros(len(vid))
            for d in range(ndim):      # the same sequential fold, per pair
                dots += vm[:, d:d + 1] * cm[None, :, d]
                vn += vm[:, d] * vm[:, d]
            cosr = dots / (np.sqrt(vn)[:, None] * cnrm[None, :])
            top1 = cosr.max(axis=1)
            if nc > _IVF_NPROBE:
                p5 = np.partition(cosr, nc - _IVF_NPROBE, axis=1)[
                    :, nc - _IVF_NPROBE]
            else:
                p5 = cosr.min(axis=1)
            isq = (vid % qmod) == qval
            thr = np.where(isq, p5, top1) - 2e-6
            mask = cosr >= thr[:, None]
            ri, ci = np.nonzero(mask)
            yield pa.RecordBatch.from_arrays(
                [pa.array(vid[ri]), pa.array(cids[ci]),
                 pa.array(cosr[mask])],
                names=["vec_id", "cid", "cosr"])

    cand_raw = e.select("vec_id", "embedding").mapInArrow(
        assign_cand, "vec_id bigint, cid bigint, cosr double")
    # identical rounding + ranking semantics, now over the pruned subset
    assign0 = cand_raw.select(
        "vec_id", "cid", F.round(F.col("cosr"), 6).alias("cosd"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("cosd"), F.asc("cid"))
    ranked = assign0.withColumn("rn", F.row_number().over(w))
    assign = ranked.filter("rn = 1").select("vec_id", "cid")
    probe = (
        ranked.filter(_IVF_QRY).filter(f"rn <= {_IVF_NPROBE}")
        .select(F.col("vec_id").alias("qid"), "cid")
    )
    cand = probe.join(assign.alias("a"),
                      (F.col("a.cid") == probe.cid) & (F.col("a.vec_id") != probe.qid)) \
                .select("qid", F.col("a.vec_id").alias("nid"))
    q, n = e.alias("q"), e.alias("n")
    cos = F.round(
        F.expr(_dot_spark("q", "n")) / (F.col("q.nrm") * F.col("n.nrm")), 4)
    scored = (
        cand.join(q, F.col("q.vec_id") == cand.qid)
        .join(n, F.col("n.vec_id") == cand.nid)
        .select("qid", "nid", cos.alias("cos"))
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return (
        scored.withColumn("rnk", F.row_number().over(wk))
        .filter(f"rnk <= {_IVF_K}")
        .select(F.col("qid").alias("query_id"), F.col("nid").alias("neighbor_id"),
                "cos", F.col("rnk").cast("long").alias("rnk"))
    )


# --- TF-IDF (document term weighting — the classic text-featurization op) ----------
# Smoothed idf = ln((N+1)/(df+1)); tf >= 3 bounds output. No lowercasing
# (unicode case folding differs across engines); tokens are exact
# space-separated strings, so the hash match is byte-exact.

_TFIDF_SUBSET = "doc_id % 20 = 3"

@register(
    "q_tfidf",
    f"""WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents WHERE {_TFIDF_SUBSET}),
        tf AS (
          SELECT doc_id, word, count(*) AS tf FROM toks WHERE word <> ''
          GROUP BY doc_id, word),
        df AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf)
        SELECT t.doc_id, t.word,
           CAST(t.tf AS BIGINT) AS tf,
           CAST(d.df AS BIGINT) AS df,
           round(t.tf * ln((n.n_docs + 1.0) / (d.df + 1.0)), 6) AS tfidf
        FROM tf t JOIN df d USING (word) CROSS JOIN n
        WHERE t.tf >= 3""",
)
def q_tfidf(spark, sf_dir):
    # single-row-group input: spread the doc rows so tokenize+explode runs
    # on every core; the (doc_id, word) tf aggregate reuses hash(doc_id)
    # clustering, so no exchange is added for it (guide §2.5)
    d = _spread(load(spark, sf_dir, "documents").filter(_TFIDF_SUBSET),
                "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ", -1)).alias("word")
    ).filter("word <> ''")
    tf = toks.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    return (
        tf.join(df, "word").crossJoin(F.broadcast(n))
        .filter("tf >= 3")
        .select("doc_id", "word",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                F.round(F.col("tf") * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)), 6)
                .alias("tfidf"))
    )


# --- deterministic corpus split (train/val/test by content-stable hash) ------------
# The held-out-split primitive of a training-data pipeline: assign every
# document to a split by hashing a STABLE key (doc_id) — reproducible across
# runs, engines, and cluster sizes, unlike sample()/rand(). Bucket = first
# 8 md5 hex digits of the key parsed base-16 (the same cross-engine fold as
# minhash: Spark conv() == DuckDB's exact hex arithmetic), mod 100:
# <80 train / <90 val / else test. One map-side-combining aggregation is
# the only shuffle; at 100 TB the split column would be written back
# partitioned-by-split instead of aggregated.

def _md5_fold_sql(expr: str) -> str:
    c = f"substr(md5({expr}), {{k}}, 1)"
    hv = ("(CASE WHEN {c} BETWEEN '0' AND '9' THEN ascii({c}) - 48 "
          "ELSE ascii({c}) - 87 END)")
    terms = [
        f"CAST({hv.format(c=c.format(k=k))} AS BIGINT) * {16 ** (8 - k)}"
        for k in range(1, 9)
    ]
    return "(" + " + ".join(terms) + ")"


_SPLIT_SQL = (
    f"CASE WHEN {_md5_fold_sql('CAST(doc_id AS VARCHAR)')} % 100 < 80 "
    "THEN 'train' WHEN "
    f"{_md5_fold_sql('CAST(doc_id AS VARCHAR)')} % 100 < 90 "
    "THEN 'val' ELSE 'test' END"
)


@register(
    "q_hash_split",
    f"""SELECT {_SPLIT_SQL} AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum({_NTOK}) AS BIGINT) AS n_tokens,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id
        FROM documents GROUP BY 1""",
)
def q_hash_split(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.groupBy(split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.expr(_NTOK)).alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


# --- stratified sampling (deterministic per-stratum rates) -------------------------
# The corpus-mixing primitive: downsample the dominant language, keep the
# long tail — per-stratum rates applied via the same content-stable md5
# fold as the split (reproducible across runs, engines, and cluster
# sizes; sample() / rand() are neither). The 'samp-' prefix makes the
# sample hash independent of the split hash over the same doc_id. Pure
# map-side predicate + ONE combining aggregation: at 100 TB the filter
# would feed the sink directly instead of aggregating.

_SAMP_RATE_SQL = "CASE lang WHEN 'en' THEN 10 WHEN 'zh' THEN 40 ELSE 70 END"
_SAMP_KEY = "'samp-' || CAST(doc_id AS VARCHAR)"
_SAMP_KEEP_SQL = f"({_md5_fold_sql(_SAMP_KEY)} % 100 < {_SAMP_RATE_SQL})"


@register(
    "q_stratified_sample",
    f"""SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE {_SAMP_KEEP_SQL}) AS BIGINT) AS n_sampled,
           CAST(coalesce(sum(n_chars) FILTER (WHERE {_SAMP_KEEP_SQL}), 0) AS BIGINT)
             AS sampled_chars,
           CAST(min(doc_id) FILTER (WHERE {_SAMP_KEEP_SQL}) AS BIGINT)
             AS min_sampled
        FROM documents GROUP BY lang""",
)
def q_stratified_sample(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("samp-"),
                                          F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("long") % 100
    )
    rate = (F.when(F.col("lang") == "en", 10)
            .when(F.col("lang") == "zh", 40).otherwise(70))
    keep = bucket < rate
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_sampled"),
        F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
         .cast("long").alias("sampled_chars"),
        F.min(F.when(keep, F.col("doc_id"))).alias("min_sampled"),
    )


# --- canonical document per dedup cluster ------------------------------------------
# The keep-one step that closes the dedup pipeline: cluster (MinHash-LSH
# pair graph -> connected components, q_dedup_clusters) then keep the
# best representative per cluster — longest text, tie-broken by doc_id.
# The selection is a per-cluster top-1 window (partitioned by cluster_id,
# never a global sort); the documents join is an equi join on doc_id.
# Oracle: the recursive-CTE closure nested as a subquery + the same window.


def _canonical_sql() -> str:
    return f"""WITH canon AS (
          SELECT c.cluster_id, c.cluster_size, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id) AS rn
          FROM ({_clusters_sql()}) c JOIN documents d ON d.doc_id = c.doc_id)
        SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(doc_id AS BIGINT) AS canonical_doc,
           CAST(n_chars AS BIGINT) AS canonical_chars
        FROM canon WHERE rn = 1"""


@register("q_cluster_canonical", None)  # SQL attached below (needs pairs SQL)
def q_cluster_canonical(spark, sf_dir):
    clusters = q_dedup_clusters(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id"))
    return (
        clusters.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("cluster_id", "cluster_size",
                F.col("doc_id").alias("canonical_doc"),
                F.col("n_chars").alias("canonical_chars"))
    )


_REGISTRY["q_cluster_canonical"] = (q_cluster_canonical, _canonical_sql())


# --- train/test decontamination ----------------------------------------------------
# The eval-leakage guard of a training pipeline: drop (here: count) train
# documents sharing any 16-char shingle with a held-out test document.
# Same inverted-index shape as n-gram Jaccard, same df-cap justification:
# a shingle in > 64 docs is corpus boilerplate, not contamination signal,
# and capping it bounds every join key's fan-out. All joins are equi
# (shingle / doc_id keys); the test side is typically tiny, so at scale
# the test_sh join broadcasts.

_DECON_K = 16
_DECON_SPLIT = f"{_md5_fold_sql('CAST(doc_id AS VARCHAR)')} % 100"


def _decontaminate_sql() -> str:
    return f"""WITH docs AS (
          SELECT doc_id, lang, text, {_DECON_SPLIT} AS bkt
          FROM documents WHERE {_SUBSET}),
       sh AS (SELECT DISTINCT doc_id,
                 substr(text, CAST(i AS INT) + 1, {_DECON_K}) AS sh
              FROM (SELECT doc_id, text,
                       unnest(range(0, greatest(length(text) - {_DECON_K - 1}, 1))) AS i
                    FROM docs) t),
       df AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
       kept AS (SELECT s.doc_id, s.sh FROM sh s JOIN df USING (sh)
                WHERE df.df <= {_DF_CAP}),
       test_sh AS (SELECT DISTINCT k.sh FROM kept k JOIN docs d USING (doc_id)
                   WHERE d.bkt >= 90),
       contam AS (SELECT DISTINCT k.doc_id FROM kept k JOIN test_sh USING (sh)),
       train AS (SELECT d.doc_id, d.lang, (c.doc_id IS NOT NULL) AS bad
                 FROM docs d LEFT JOIN contam c USING (doc_id)
                 WHERE d.bkt < 80)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_train,
          CAST(count(*) FILTER (WHERE bad) AS BIGINT) AS n_contaminated,
          CAST(count(*) FILTER (WHERE NOT bad) AS BIGINT) AS n_clean,
          CAST(min(CASE WHEN bad THEN doc_id END) AS BIGINT)
            AS first_contaminated
       FROM train GROUP BY lang"""


def _decon_frames(spark, sf_dir):
    """Shared front half of both decontamination variants: bucketed docs
    (deterministic md5 split) and the df-capped (doc_id, shingle) table."""
    bkt = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long") % 100
    )
    docs = (load(spark, sf_dir, "documents").filter(_SUBSET)
            .select("doc_id", "lang", "text", bkt.alias("bkt")))
    # Arrow shingle pass (see _shingle_sets): kills the O(len^2) JVM
    # substr scans and the global DISTINCT exchange of the old form
    sh = _shingle_sets(docs, _DECON_K)
    df = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    kept = sh.join(df.filter(F.col("df") <= _DF_CAP), "sh").select("doc_id", "sh")
    # both decontamination variants consume `kept` in 2-3 subtrees (df-cap
    # probe sides, test-set build, the exact verify join); the old global
    # DISTINCT exchange happened to be a reuse point, the Arrow pass is
    # not — materialize once per invocation instead of re-shingling
    return docs, kept.localCheckpoint()


def _decon_report(docs, contam):
    """Shared back half: left-mark train docs against the contaminated-id
    set and fold the per-language report."""
    train = (docs.filter("bkt < 80").select("doc_id", "lang")
             .join(contam, "doc_id", "left")
             .withColumn("bad", F.col("bad").isNotNull()))
    return train.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.when(F.col("bad"), 1).otherwise(0)).cast("long")
         .alias("n_contaminated"),
        F.sum(F.when(~F.col("bad"), 1).otherwise(0)).cast("long")
         .alias("n_clean"),
        F.min(F.when(F.col("bad"), F.col("doc_id"))).alias("first_contaminated"),
    )


@register("q_decontaminate", _decontaminate_sql())
def q_decontaminate(spark, sf_dir):
    docs, kept = _decon_frames(spark, sf_dir)
    test_sh = (kept.join(docs.filter("bkt >= 90").select("doc_id"), "doc_id")
               .select("sh").distinct())
    contam = kept.join(test_sh, "sh").select("doc_id").distinct() \
                 .withColumn("bad", F.lit(True))
    return _decon_report(docs, contam)


# --- Bloom-prefiltered decontamination (the 100 TB scale path) ---------------
# At scale the train-side shingle table is petabyte-class while the held-out
# test side is ~1000x smaller — but still too big to broadcast as an EXACT
# set, so the contamination equi join degenerates to a sort-merge that
# shuffles the entire train side. The standard fix (what Spark's runtime
# row-level Bloom injection does for DPP-ineligible joins) made explicit:
# fold the test-side shingles into an m-bit Bloom bitset (one distributed
# map-side-combining bit_or agg -> m/64 longs on the driver), broadcast the
# bitset, and drop ~all non-candidate train rows MAP-SIDE before the
# shuffle. False positives only cost extra rows in the exact join that
# follows; false negatives are impossible, so the result is bit-identical
# to q_decontaminate (same oracle SQL attests both).

_BLOOM_K = 4  # probes per key; m = 16n bits -> fp ~ 0.24%


def bloom_build(df, col, n_bits=None):
    """Build an m-bit Bloom bitset over df[col] (strings), distributed:
    positions are derived with double hashing pos_i = (h1 + i*h2) mod m
    (Kirsch-Mitzenmacher) from h1 = xxhash64(col), h2 = xxhash64(col, 1);
    both hashes are reduced mod m BEFORE combining so the arithmetic never
    overflows a long (Spark 4 runs ANSI). Each position becomes one
    (word, 1<<bit) pair; ONE partial-aggregable bit_or groupBy folds them
    to <= m/64 longs, which is the only thing collected.

    Returns (bitset_bytes, m): little-endian int64 words.
    """
    import math

    import numpy as np

    if n_bits is None:
        n = max(int(df.count()), 1)
        n_bits = 1 << max(10, math.ceil(math.log2(16 * n)))
    if n_bits % 64:
        raise ValueError(f"n_bits must be a multiple of 64, got {n_bits}")
    m = int(n_bits)
    h1 = F.pmod(F.xxhash64(col), F.lit(m))
    h2 = F.pmod(F.xxhash64(col, F.lit(1)), F.lit(m))
    pos = (
        df.select(h1.alias("h1"), h2.alias("h2"))
        .select(F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("i"),
                "h1", "h2")
        .select(F.pmod(F.col("h1") + F.col("i") * F.col("h2"),
                       F.lit(m)).alias("pos"))
    )
    words = (
        pos.select(F.shiftright("pos", 6).alias("word"),
                   F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("mask"))
        .groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))
        .collect()
    )
    arr = np.zeros(m // 64, dtype="<i8")
    for r in words:
        arr[int(r["word"])] = np.int64(r["bits"])
    return arr.tobytes(), m


def bloom_might_contain(spark, bitset, m, col):
    """Boolean Column: Bloom membership probe of string ``col`` against a
    broadcast bitset from bloom_build. Arrow-batched pandas UDF over the
    two xxhash64 values (computed JVM-side); the numpy probe replicates the
    build's position arithmetic exactly (int64 floored mod == Spark pmod
    for positive m), so members can never test false."""
    from pyspark.sql.functions import pandas_udf

    bc = spark.sparkContext.broadcast(bitset)
    k, mm = _BLOOM_K, int(m)

    @pandas_udf("boolean")
    def _might(h1: pd.Series, h2: pd.Series) -> pd.Series:
        import numpy as np
        import pandas as pd

        w = np.frombuffer(bc.value, dtype="<i8")
        a = h1.to_numpy(np.int64) % mm
        b = h2.to_numpy(np.int64) % mm
        ok = np.ones(len(a), dtype=bool)
        for i in range(k):
            p = (a + i * b) % mm  # < m*k, no overflow
            # arithmetic >> then &1 reads the addressed bit regardless of sign
            ok &= ((w[p >> 6] >> (p & 63)) & 1).astype(bool)
        return pd.Series(ok)

    return _might(F.xxhash64(col), F.xxhash64(col, F.lit(1)))


@register("q_decontaminate_bloom", _decontaminate_sql())
def q_decontaminate_bloom(spark, sf_dir):
    docs, kept = _decon_frames(spark, sf_dir)
    test_sh = (kept.join(docs.filter("bkt >= 90").select("doc_id"), "doc_id")
               .select("sh").distinct())
    test_sh.persist()  # consumed twice: bitset build (eager) + exact join
    bits, m = bloom_build(test_sh, "sh")
    cand = kept.filter(bloom_might_contain(spark, bits, m, "sh"))
    contam = cand.join(test_sh, "sh").select("doc_id").distinct() \
                 .withColumn("bad", F.lit(True))
    return _decon_report(docs, contam)


# --- training-shard packing (fixed token budget) -----------------------------------
# THE training-data sharding primitive: pack documents into shards of
# <= `budget` tokens, in a content-stable md5-fold order (reproducible
# across runs, engines, and cluster sizes). shard_id = (tokens before
# this doc) DIV budget over the global order — exact integer algebra.
#
# The oracle states it as ONE global window cumsum (inherently a single
# sorted pass); the Spark side runs the DISTRIBUTED decomposition a
# 100-TB corpus needs: repartitionByRange on the order key (ranges are
# disjoint + ascending, so global order = partition order x within-
# partition order regardless of where the sampled boundaries land),
# per-partition token totals -> tiny driver prefix sum -> one offset per
# partition, then a streaming within-partition cumsum (mapInPandas,
# carry across Arrow batches). Hash parity vs the window form proves the
# two-pass decomposition exact. No single task ever sees more than its
# range; the only full-data exchange is the range repartition itself.

_SHARD_KEY_SQL = "'shard-' || CAST(doc_id AS VARCHAR)"


def token_shards(d, budget: int = 8192, npart: int = 16):
    """Doc-level shard assignment: (doc_id, n_tok, shard_id)."""
    from pyspark.sql.types import LongType, StructField, StructType

    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    hkey = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shard-"),
                                          F.col("doc_id").cast("string"))),
                           1, 8), 16, 10).cast("long"))
    t = (d.select(F.col("doc_id").cast("long").alias("doc_id"),
                  F.expr(_NTOK).cast("long").alias("n_tok"),
                  hkey.alias("hkey"))
         .repartitionByRange(npart, "hkey", "doc_id")
         .sortWithinPartitions("hkey", "doc_id")
         .withColumn("pid", F.spark_partition_id()))
    t.persist()
    try:
        sums = {int(r["pid"]): int(r["s"]) for r in
                t.groupBy("pid").agg(F.sum("n_tok").alias("s")).collect()}
        offsets, run = {}, 0
        for pid in range(npart):
            offsets[pid] = run
            run += sums.get(pid, 0)

        schema = StructType([StructField("doc_id", LongType()),
                             StructField("n_tok", LongType()),
                             StructField("shard_id", LongType())])

        def fn(batches):
            carry = None  # tokens before the next row; seeded from offsets
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                if carry is None:
                    carry = offsets[int(pdf["pid"].iloc[0])]
                cum = pdf["n_tok"].cumsum() + carry - pdf["n_tok"]
                out = pdf[["doc_id", "n_tok"]].copy()
                out["shard_id"] = cum // budget
                carry += int(pdf["n_tok"].sum())
                yield out

        out = t.mapInPandas(fn, schema)
        # materialize before unpersist (mapInPandas is lazy)
        out = out.localCheckpoint()
        return out
    finally:
        t.unpersist()


@register(
    "q_token_shards",
    f"""WITH t AS (
          SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tok,
                 {_md5_fold_sql(_SHARD_KEY_SQL)} AS hkey
          FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, n_tok,
           CAST((sum(n_tok) OVER (ORDER BY hkey, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - n_tok) // 8192 AS BIGINT) AS shard_id
        FROM t""",
)
def q_token_shards(spark, sf_dir):
    return token_shards(load(spark, sf_dir, "documents"), budget=8192)


# --------------------------------------------------------------------------
# PII scrub (corpus-hygiene redaction; VERDICT-r5 item 8)
# --------------------------------------------------------------------------

# Patterns are deliberately RE2-and-Java-regex common ground: char classes,
# bounded repetition, \b word boundaries, optional \+ — no lookaround, no
# backreferences — so Spark (java.util.regex) and DuckDB (RE2) agree on
# every match boundary.
PII_EMAIL_RE = r"[a-z0-9.\-]+@[a-z0-9\-]+\.[a-z]{2,}"
PII_ID_RE = r"\bid-[0-9]{6,}\b"
# applied AFTER the id pattern is redacted; the injected ids are 6-7 digits
# (< the 8-char minimum here) so the two patterns can never fight anyway
PII_PHONE_RE = r"\+?[0-9][0-9\-]{6,}[0-9]"


def pii_scrub(docs, text_col: str = "text"):
    """Pattern-based PII redaction over a document frame: emails, phone-like
    and id-like spans are replaced with <EMAIL>/<PHONE>/<ID> tokens and
    counted per row. Pure JVM regexp_replace/regexp_count — no Python in the
    row path, embarrassingly parallel (zero shuffles added). At 100 TB this
    is a map-only pass whose cost is the regex engine, which is exactly
    where it should sit.

    Returns the input columns plus n_emails/n_phones/n_ids (long),
    scrubbed (string) and pii_free (boolean: no pattern matches remain)."""
    t = F.col(text_col)
    s1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    s2 = F.regexp_replace(s1, PII_ID_RE, "<ID>")
    s3 = F.regexp_replace(s2, PII_PHONE_RE, "<PHONE>")
    out = docs.withColumns({
        "n_emails": F.regexp_count(t, F.lit(PII_EMAIL_RE)).cast("long"),
        "n_ids": F.regexp_count(t, F.lit(PII_ID_RE)).cast("long"),
        "n_phones": F.regexp_count(
            F.regexp_replace(t, PII_ID_RE, "<ID>"), F.lit(PII_PHONE_RE)
        ).cast("long"),
        "scrubbed": s3,
    })
    clean = ~(out["scrubbed"].rlike(PII_EMAIL_RE)
              | out["scrubbed"].rlike(PII_ID_RE)
              | out["scrubbed"].rlike(PII_PHONE_RE))
    return out.withColumn("pii_free", clean)


# The synthetic corpus has no organic PII, so the twin injects deterministic
# PII-like spans derived from doc_id — with the SAME arithmetic in Spark and
# the DuckDB oracle — then proves the redaction machinery hash-exactly.
_PII_AUG_SQL = (
    "text"
    " || CASE WHEN doc_id % 3 = 0 THEN ' contact u' || CAST(doc_id AS VARCHAR)"
    "         || '@ex' || CAST(doc_id % 7 AS VARCHAR) || '.com' ELSE '' END"
    " || CASE WHEN doc_id % 4 = 1 THEN ' call +1-555-'"
    "         || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END"
    " || CASE WHEN doc_id % 5 = 2 THEN ' ref id-'"
    "         || CAST(100000 + doc_id AS VARCHAR) ELSE '' END"
)


@register(
    "q_pii_scrub",
    f"""WITH aug AS (
          SELECT doc_id, lang, {_PII_AUG_SQL} AS text FROM documents
       ), scrub AS (
          SELECT doc_id, lang,
             CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '{PII_ID_RE}')) AS BIGINT) AS n_ids,
             CAST(len(regexp_extract_all(
                 regexp_replace(text, '{PII_ID_RE}', '<ID>', 'g'),
                 '{PII_PHONE_RE}')) AS BIGINT) AS n_phones,
             regexp_replace(regexp_replace(regexp_replace(
                 text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{PII_ID_RE}', '<ID>', 'g'),
                 '{PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
          FROM aug)
       SELECT lang,
          CAST(count(*) AS BIGINT) AS n_docs,
          CAST(sum(n_emails) AS BIGINT) AS n_emails,
          CAST(sum(n_phones) AS BIGINT) AS n_phones,
          CAST(sum(n_ids) AS BIGINT) AS n_ids,
          CAST(sum(CASE WHEN n_emails + n_phones + n_ids > 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_pii_docs,
          CAST(sum(CASE WHEN regexp_matches(scrubbed, '{PII_EMAIL_RE}')
                          OR regexp_matches(scrubbed, '{PII_ID_RE}')
                          OR regexp_matches(scrubbed, '{PII_PHONE_RE}')
                        THEN 0 ELSE 1 END) AS BIGINT) AS n_clean_after,
          CAST(count(DISTINCT md5(scrubbed)) AS BIGINT) AS n_distinct_scrubbed
       FROM scrub GROUP BY lang""",
)
def q_pii_scrub(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    aug = d.select(
        "doc_id", "lang",
        F.expr(_PII_AUG_SQL.replace("AS VARCHAR", "AS STRING")).alias("text"))
    s = pii_scrub(aug)
    return s.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_emails").cast("long").alias("n_emails"),
        F.sum("n_phones").cast("long").alias("n_phones"),
        F.sum("n_ids").cast("long").alias("n_ids"),
        F.sum(((F.col("n_emails") + F.col("n_phones") + F.col("n_ids")) > 0)
              .cast("long")).cast("long").alias("n_pii_docs"),
        F.sum(F.col("pii_free").cast("long")).cast("long").alias("n_clean_after"),
        F.countDistinct(F.md5("scrubbed")).cast("long").alias("n_distinct_scrubbed"),
    )


# --------------------------------------------------------------------------
# Paragraph-level dedup (fine-grained corpus curation: drop repeated
# paragraphs ACROSS documents, keep each document's residual text)
# --------------------------------------------------------------------------

def paragraph_dedup(docs, delim: str = "\n\n", join_delim: str | None = None,
                    text_col: str = "text", id_col: str = "doc_id"):
    """Cross-document paragraph dedup (the RefinedWeb/CCNet-style curation
    stage finer than doc-level dedup): split every document into paragraphs
    on ``delim``, keep only the GLOBALLY FIRST occurrence of each exact
    paragraph (first = lowest (doc_id, position) — deterministic under any
    partitioning), and reassemble each document from its surviving
    paragraphs in original order. Whitespace-only paragraphs are dropped
    outright.

    Returns (id_col, n_paras, n_kept, clean_text). Plan: one split+explode
    projection, ONE window shuffle on the paragraph key (the dedup hash
    partitioning — skew on pathological repeated paragraphs is bounded
    because row_number needs only a sort within each paragraph's
    partition), ONE groupBy shuffle on the doc key to reassemble. No
    Python in the row path.
    """
    jd = delim if join_delim is None else join_delim
    parts = (docs.select(
        id_col,
        F.posexplode(F.split(F.col(text_col), re.escape(delim)))
        .alias("idx", "para"))
        .filter(F.length(F.trim("para")) > 0))
    w = Window.partitionBy("para").orderBy(id_col, "idx")
    ranked = parts.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_paras"),
        F.sum((F.col("rn") == 1).cast("long")).cast("long").alias("n_kept"),
        F.concat_ws(jd, F.transform(
            F.filter(F.array_sort(F.collect_list(
                F.struct("idx", "rn", "para"))),
                lambda s: s["rn"] == F.lit(1)),
            lambda s: s["para"])).alias("clean_text"))


# The synthetic corpus is single-paragraph word streams, so the twin derives
# pseudo-paragraph boundaries by splitting on a fixed delimiter token (the
# operator takes any delimiter); machinery — global keep-first, ordered
# reassembly — is what the hash compare proves.
_PARA_DELIM = " the "

@register(
    "q_paragraph_dedup",
    f"""WITH parts AS (
          SELECT doc_id, unnest(string_split(text, '{_PARA_DELIM}')) AS para,
                 generate_subscripts(string_split(text, '{_PARA_DELIM}'), 1)
                     AS idx
          FROM documents)
       , p2 AS (SELECT doc_id, idx - 1 AS idx, para FROM parts
                WHERE trim(para) <> '')
       , rn AS (SELECT *, row_number() OVER
                    (PARTITION BY para ORDER BY doc_id, idx) AS rn FROM p2)
       , per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
                 CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_kept,
                 coalesce(string_agg(para, ' | ' ORDER BY idx)
                          FILTER (WHERE rn = 1), '') AS clean_text
          FROM rn GROUP BY doc_id)
       SELECT CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_paras) AS BIGINT) AS n_paras,
              CAST(sum(n_kept) AS BIGINT) AS n_kept,
              CAST(count(DISTINCT md5(CAST(doc_id AS VARCHAR) || ':'
                                      || clean_text)) AS BIGINT) AS n_distinct,
              CAST(sum(len(clean_text)) AS BIGINT) AS clean_chars
       FROM per_doc""",
)
def q_paragraph_dedup(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    pd_ = paragraph_dedup(d, delim=_PARA_DELIM, join_delim=" | ")
    return pd_.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_paras").cast("long").alias("n_paras"),
        F.sum("n_kept").cast("long").alias("n_kept"),
        F.countDistinct(F.md5(F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.col("clean_text")))).cast("long").alias("n_distinct"),
        F.sum(F.length("clean_text")).cast("long").alias("clean_chars"))
