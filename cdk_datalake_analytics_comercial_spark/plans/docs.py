"""Training-data pipeline queries over ``documents`` and ``embeddings``:
text analysis, dedup family, similarity search, multimodal plumbing.

Oracle policy: EVERY query gets a DuckDB oracle that recomputes the same
deterministic definition (normalization, shingles, stopword hits, md5
fingerprints, integer-scaled cosine). The sketch pipelines (MinHash,
SimHash, sign-LSH, IVF) run in *portable* mode here — md5-derived shingle
hashes, literal-injected hash params / hyperplanes / centroids, exact
integer arithmetic throughout — so the oracle rebuilds the identical
sketches; the xxhash64 fast paths remain the cluster defaults in
``operators.dedup``.

Float policy for similarity: vectors are scaled to integers
(round(x * 10^6) as long) so dot products and norms are exact integer sums —
order-independent and bit-identical across engines; the final cosine divides
identical doubles. Zero tolerance needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, graph, text
from ..operators import multimodal
from .common import corpus_fixture, corpus_fixture_path, lake_db, t
from ..core.barrier import shared_barrier

# Shared SQL fragments for the oracle side (DuckDB), mirroring operators.text.
_SQL_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_SQL_TOKS = f"string_split_regex({_SQL_NORM}, '\\s+')"
_SQL_STOP = {
    lang: "[" + ", ".join(f"'{w}'" for w in ws) + "]"
    for lang, ws in text.STOPWORDS.items()
}

# --------------------------------------------------------------------------
# Token statistics (whitespace + BPE-ish regex counting).


def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        F.length("text").cast("bigint").alias("n_chars_calc"),
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        text.bpe_token_count(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
    )


_ORACLE_TOKEN_STATS = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_calc,
       CAST(CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_TOKS}) END AS BIGINT) AS n_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""

# --------------------------------------------------------------------------
# Quality scoring (length / token-shape / punctuation heuristics).


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    f = text.quality_features(F.col("text"))
    return d.select(
        F.col("doc_id"),
        f["n_tokens"].cast("bigint").alias("n_tokens"),
        F.round(f["mean_token_len"], 6).alias("mean_token_len"),
        F.round(f["punct_ratio"], 6).alias("punct_ratio"),
        text.quality_score(F.col("text")).alias("quality"),
    )


_ORACLE_QUALITY = f"""
WITH base AS (
  SELECT doc_id, text,
         CAST(CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_TOKS}) END AS BIGINT) AS n_tokens,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct
  FROM documents
), feat AS (
  SELECT doc_id, n_tokens,
         CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1) AS mean_token_len,
         CAST(n_punct AS DOUBLE) / greatest(n_chars, 1) AS punct_ratio
  FROM base
)
SELECT doc_id, n_tokens,
       ROUND(mean_token_len, 6) AS mean_token_len,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND((least(CAST(n_tokens AS DOUBLE) / 20.0, 1.0)
             + (CASE WHEN mean_token_len >= 3 AND mean_token_len <= 10 THEN 1.0 ELSE 0.0 END)
             + (CASE WHEN punct_ratio <= 0.2 THEN 1.0 ELSE 0.0 END)) / 3.0, 6) AS quality
FROM feat
"""

# --------------------------------------------------------------------------
# Language ID (stopword-hit argmax heuristic; ties → first in code order).


def q_text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        F.col("lang").alias("lang_label"),
        text.lang_id(F.col("text")).alias("lang_pred"),
    )


_HITS = {
    lang: f"len(list_filter(toks, tk -> list_contains({_SQL_STOP[lang]}, tk)))"
    for lang in sorted(text.STOPWORDS)
}
_ORACLE_LANG_ID = f"""
WITH base AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS toks FROM documents
), hits AS (
  SELECT doc_id, lang,
         {_HITS['de']} AS h_de, {_HITS['en']} AS h_en,
         {_HITS['es']} AS h_es, {_HITS['fr']} AS h_fr
  FROM base
)
SELECT doc_id, lang AS lang_label,
       CASE WHEN h_de = 0 AND h_en = 0 AND h_es = 0 AND h_fr = 0 THEN 'und'
            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_es >= h_fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM hits
"""

# --------------------------------------------------------------------------
# Document fingerprints (md5 whole-doc + min-shingle MinHash-1).

_SQL_SHINGLES = f"""
CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
     ELSE list_transform(range(0, len(toks) - 2), i -> array_to_string(toks[(i+1):(i+3)], ' '))
END
"""


# 60-bit md5-prefix shingle key (15 hex digits parsed with shifts — exact in
# BIGINT): DuckDB twin of operators.dedup.shingle_keys(portable=True).
_SQL_MD5KEY = (
    "list_sum(list_transform(range(1, 16), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(s), i, 1)) - 1 AS BIGINT)"
    " << (4 * (15 - i))))"
)


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id"),
        text.fingerprint(F.col("text")).alias("fp_md5"),
        text.min_shingle_fingerprint(F.col("text"), k=3).alias("fp_min_shingle"),
    )


_ORACLE_FINGERPRINT = f"""
WITH base AS (
  SELECT doc_id, md5({_SQL_NORM}) AS fp_md5, {_SQL_TOKS} AS toks FROM documents
)
SELECT doc_id, fp_md5,
       list_aggregate(list_transform({_SQL_SHINGLES}, s -> md5(s)), 'min') AS fp_min_shingle
FROM base
"""

# --------------------------------------------------------------------------
# Exact dedup (normalized-content hash, min doc_id survives).


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.exact_dedup(d, "text", "doc_id").select(
        "doc_id", F.col("lang").alias("lang"), F.col("source").alias("source")
    )


_ORACLE_DEDUP_EXACT = f"""
WITH hashed AS (
  SELECT doc_id, lang, source, md5({_SQL_NORM}) AS fp,
         ROW_NUMBER() OVER (PARTITION BY md5({_SQL_NORM}) ORDER BY doc_id ASC) AS rn
  FROM documents
)
SELECT doc_id, lang, source FROM hashed WHERE rn = 1
"""

# --------------------------------------------------------------------------
# Exact n-gram Jaccard pairs (inverted-index join) — also the verify stage
# LSH candidates feed into.


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.5, portable=True
    )
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


_SQL_PAIR_CTES = f"""base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform({_SQL_SHINGLES}, s -> {_SQL_MD5KEY})) AS sh
  FROM base
), sizes AS (
  SELECT doc_id, len(sh) AS n FROM sh
), ex AS (
  SELECT doc_id, unnest(sh) AS s FROM sh
), common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""

_ORACLE_NGRAM_JACCARD = f"""
WITH {_SQL_PAIR_CTES}
SELECT id_a, id_b,
       ROUND(CAST(common AS DOUBLE) / (na.n + nb.n - common), 6) AS jaccard
FROM common
JOIN sizes na ON na.doc_id = id_a
JOIN sizes nb ON nb.doc_id = id_b
WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5
"""

# --------------------------------------------------------------------------
# Pair graph → clusters (connected components) → canonical-doc dedup.
# Spark side is the iterative min-label-propagation operator
# (operators.graph); the oracle recomputes the same transitive closure with
# a recursive CTE — deterministic because the label is the component min.

_SQL_CLUSTER_CTES = f"""{_SQL_PAIR_CTES}, pairs AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes na ON na.doc_id = id_a
  JOIN sizes nb ON nb.doc_id = id_b
  WHERE CAST(common AS DOUBLE) / (na.n + nb.n - common) >= 0.5
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes(u)
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
), comp AS (
  SELECT u, MIN(lbl) AS c FROM walk GROUP BY u
)"""


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.5, portable=True
    )
    return graph.connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


_ORACLE_DEDUP_CLUSTERS = f"""
WITH RECURSIVE {_SQL_CLUSTER_CTES}
SELECT u AS doc_id, c AS cluster_id FROM comp
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", k=3, threshold=0.5, portable=True
    )
    return graph.keep_canonical(d, pairs, "doc_id").select("doc_id", "lang", "source")


_ORACLE_DEDUP_CANONICAL = f"""
WITH RECURSIVE {_SQL_CLUSTER_CTES}
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT u FROM comp WHERE u <> c)
"""

# --------------------------------------------------------------------------
# MinHash + LSH dedup and SimHash near-dups. The query registry runs the
# *portable* pipeline (md5-derived shingle hashes, raw-band LSH buckets) so
# the DuckDB oracle below recomputes the identical sketches end-to-end: same
# (a,b) MinHash params (inlined as literals), same Mersenne modulus, same
# band slicing, same majority-vote SimHash bits. The xxhash64 fast path
# stays the cluster default in operators.dedup.


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.minhash_dedup(
        d, "text", "doc_id", threshold=0.5, portable=True
    ).select("doc_id", "lang", "source")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup against a fingerprint index: even doc_ids
    play the already-indexed history, odd doc_ids the newly ingested batch.
    History always wins (even when an indexed id is larger); within the
    batch the smaller id wins. Output = the new batch's survivors."""
    d = t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    idx = dedup.minhash_index(old, "text", "doc_id", portable=True)
    surv, _ = dedup.minhash_dedup_incremental(
        new, idx, "text", "doc_id", threshold=0.5, portable=True
    )
    return surv.select("doc_id", "lang", "source")


# Persisted-index file sizing (guide §6: aim for 128 MB–1 GB files):
# fingerprint rows carry the full shingle-hash set (~2 KB/row → ~64k
# rows/file); banded probe keys are ~50 B/row × 16 bands (~2.5M rows/file).
INDEX_FEAT_ROWS_PER_FILE = 65536
INDEX_BAND_ROWS_PER_FILE = 2_500_000


def incremental_index_file_counts(n_rows: int) -> tuple[int, int]:
    """(feats files, banded files) for an ``n_rows``-fingerprint index —
    the ONE definition of the size-derived layout (tests import it, so a
    formula change cannot silently diverge from the pinned scale math)."""
    import math as _math

    return (
        max(1, _math.ceil(n_rows / INDEX_FEAT_ROWS_PER_FILE)),
        max(1, _math.ceil(n_rows * 16 / INDEX_BAND_ROWS_PER_FILE)),
    )


_MHIDX_TAG = "mh=64|b=16|k=3|v2"


def _incremental_index_path(sf_dir: str) -> str:
    """Scratch dir of the persisted dedup index, keyed by the documents
    corpus content — a regenerated corpus never reuses a stale index."""
    return corpus_fixture_path(sf_dir, "documents", "mhidx", _MHIDX_TAG)


def q_dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AMORTIZED shape of incremental dedup: the history index (even
    doc_ids) is fingerprinted, band-exploded, and PERSISTED band-clustered
    ONCE per corpus (atomic build-into-tmp + rename, content-keyed like
    the IVF-PQ cache); the measured query is the probe alone — sketch the
    new batch, join its band keys against the stored layout, verify
    candidates. This is what a production pipeline pays per increment
    (the build cost amortizes over every batch), and it is the row
    SCALING.md contrasts with `dedup_incremental`, which rebuilds the
    index inside the measured window. Results are identical — the query
    shares `dedup_incremental`'s oracle."""
    import os

    d = t(spark, sf_dir, "documents")
    new = d.filter(F.col("doc_id") % 2 == 1)

    def build(tmp: str) -> None:
        old = d.filter(F.col("doc_id") % 2 == 0)
        # ONE fingerprint pass feeds the row count, the feats write and the
        # banded write (3 consumers — unbarriered, the md5+MinHash kernel
        # would run once per consumer; guide §2.4/§5).
        idx = dedup.minhash_index(old, "text", "doc_id", portable=True)
        idx = idx.transform(shared_barrier)
        n_idx = idx.count()
        # File counts derive from the data volume (guide §6: aim for
        # 128 MB–1 GB files), not from a parallelism constant: fingerprint
        # rows carry the full shingle-hash set (~2 KB/row → ~64k rows/file);
        # banded probe keys are ~50 B/row (~2.5M rows/file). A hardcoded 32
        # sprayed a 40k-row index across 32 tiny files, and every probe
        # stage downstream inherited the 32-task parallelism for
        # metadata-sized work; at corpus scale the same formulas yield
        # thousands of right-sized files.
        feat_files, band_files = incremental_index_file_counts(n_idx)
        idx.repartition(feat_files).write.mode("overwrite").parquet(
            os.path.join(tmp, "feats")
        )
        # band-clustered layout: the probe joins on (band, band_hash), so
        # the stored side is already partitioned by its join key
        dedup.band_keys(idx, portable=True).repartition(
            band_files, "band", "band_hash"
        ).write.mode("overwrite").parquet(os.path.join(tmp, "banded"))

    path = corpus_fixture(sf_dir, "documents", "mhidx", _MHIDX_TAG, build)
    feats = spark.read.parquet(os.path.join(path, "feats"))
    banded = spark.read.parquet(os.path.join(path, "banded"))
    surv, _ = dedup.minhash_dedup_incremental(
        new,
        feats,
        "text",
        "doc_id",
        threshold=0.5,
        portable=True,
        index_banded=banded,
    )
    return surv.select("doc_id", "lang", "source")


def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return dedup.simhash_near_dups(d, "text", "doc_id", max_hamming=3, portable=True)


# 60-bit md5 prefix (15 hex digits parsed with shifts — exact in BIGINT),
# mod the Mersenne prime: the engine's portable shingle hash, verified
# bit-identical to Spark's conv(substring(md5(s),1,15),16,10) % p.
_SQL_MD5HASH = f"({_SQL_MD5KEY} % 2147483647)"

_SQL_HSETS = f"""base AS (
  SELECT doc_id AS id, {_SQL_TOKS} AS toks FROM documents
), hsets AS (
  SELECT id, list_distinct(list_transform({_SQL_SHINGLES}, s -> {_SQL_MD5HASH})) AS hs
  FROM base
)"""


def _minhash_params_sql(num_hashes: int = 64) -> str:
    from ..operators.dedup import _hash_params

    return (
        "["
        + ", ".join("{'a': %d, 'b': %d}" % (a, b) for a, b in _hash_params(num_hashes))
        + "]"
    )


_ORACLE_DEDUP_MINHASH = f"""
WITH {_SQL_HSETS}, sigs AS (
  SELECT id, list_transform({_minhash_params_sql(64)}, p ->
           list_min(list_transform(hs, x -> (p.a * x + p.b) % 2147483647))) AS sig
  FROM hsets
), banded AS (
  SELECT id, t.band AS band, sig[(t.band * 4 + 1):(t.band * 4 + 4)] AS key
  FROM sigs, range(0, 16) t(band)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
), verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN hsets ha ON ha.id = c.id_a
  JOIN hsets hb ON hb.id = c.id_b
  WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
        / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) >= 0.5
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id NOT IN (SELECT id_b FROM verified)
"""

# Incremental dedup: same sketch/band/verify CTEs over ALL docs; the loser
# of a verified pair is the NEW (odd) doc whenever the pair crosses the
# index boundary (history wins, id order irrelevant), else the greater id;
# index-internal (even-even) pairs never drop anything.
_ORACLE_DEDUP_INCREMENTAL = f"""
WITH {_SQL_HSETS}, sigs AS (
  SELECT id, list_transform({_minhash_params_sql(64)}, p ->
           list_min(list_transform(hs, x -> (p.a * x + p.b) % 2147483647))) AS sig
  FROM hsets
), banded AS (
  SELECT id, t.band AS band, sig[(t.band * 4 + 1):(t.band * 4 + 4)] AS key
  FROM sigs, range(0, 16) t(band)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key AND a.id < b.id
), verified AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN hsets ha ON ha.id = c.id_a
  JOIN hsets hb ON hb.id = c.id_b
  WHERE CAST(len(list_intersect(ha.hs, hb.hs)) AS DOUBLE)
        / (len(ha.hs) + len(hb.hs) - len(list_intersect(ha.hs, hb.hs))) >= 0.5
)
SELECT doc_id, lang, source FROM documents
WHERE doc_id % 2 = 1
  AND doc_id NOT IN (
    SELECT CASE WHEN id_a % 2 = 1 AND id_b % 2 = 0 THEN id_a
                WHEN id_a % 2 = 0 AND id_b % 2 = 1 THEN id_b
                ELSE id_b END
    FROM verified
    WHERE id_a % 2 = 1 OR id_b % 2 = 1
  )
"""

# SimHash: bit i of the fingerprint is the majority vote over the shingle
# hashes' bit i; pigeonhole bands (widths 7,7,7,10 over 31 bits) bucket the
# candidates; hamming via bit_count(xor).
_ORACLE_DEDUP_SIMHASH = f"""
WITH {_SQL_HSETS}, fps AS (
  SELECT id,
         list_sum(list_transform(range(0, 31), i ->
           CASE WHEN 2 * len(list_filter(hs, h -> ((h >> i) & 1) = 1)) > len(hs)
                THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) AS fp
  FROM hsets
), sbanded AS (
  SELECT id, fp, t.band AS band,
         (fp >> (t.band * 7)) & (CASE WHEN t.band = 3 THEN 1023 ELSE 127 END) AS bits
  FROM fps, range(0, 4) t(band)
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
FROM sbanded a JOIN sbanded b
  ON a.band = b.band AND a.bits = b.bits AND a.id < b.id
WHERE bit_count(xor(a.fp, b.fp)) <= 3
"""


# --------------------------------------------------------------------------
# Embedding similarity: exact integer-scaled cosine (oracle-checked) and the
# LSH-bucketed approximate variant (rows-only).

_SCALE = "1000000.0"


def _scaled(vec):
    return F.transform(vec, lambda x: F.round(x.cast("double") * F.lit(1000000.0)).cast("long"))


def q_emb_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 neighbors of 20 query vectors: numpy block scoring
    (queries ride to every partition as a matrix; integer-exact, same values
    as the per-pair expression form) + window top-k."""
    from pyspark.sql import types as T_

    from ..operators._vectorized import make_cosine_scores_mapper

    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", _scaled(F.col("embedding")).alias("iv")
    )
    q_rows = e.filter(F.col("vec_id") < 20).collect()
    mapper = make_cosine_scores_mapper(
        [r["vec_id"] for r in q_rows], [r["iv"] for r in q_rows]
    )
    scored = e.mapInPandas(
        mapper,
        schema=T_.StructType(
            [
                T_.StructField("query_id", T_.LongType()),
                T_.StructField("corpus_id", T_.LongType()),
                T_.StructField("cosine", T_.DoubleType()),
            ]
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "corpus_id", F.col("rank").cast("int").alias("rank"), "cosine")
    )


_SQL_IV = f"list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * {_SCALE}) AS BIGINT))"
_SQL_DOT = "CAST(list_sum(list_transform(range(1, 65), i -> a.iv[i] * b.iv[i])) AS DOUBLE)"
_SQL_NRM = (
    "sqrt(CAST(list_sum(list_transform(range(1, 65), i -> {s}.iv[i] * {s}.iv[i])) AS DOUBLE))"
)

_ORACLE_COSINE_TOPK = f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) AS cosine
  FROM iv a JOIN iv b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, CAST(rank AS INT) AS rank, cosine FROM ranked WHERE rank <= 5
"""


def q_emb_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs near-dup via the distributed block-pair numpy kernel
    (operators.similarity.cosine_pairs_blockdist) — integer-exact, same
    values as the per-pair expression form and the SQL oracle, with NO
    driver-side collect: rows replicate to their B block-pair groups and
    each group matmuls independently."""
    from ..operators.similarity import cosine_pairs_blockdist

    e = t(spark, sf_dir, "embeddings")
    return cosine_pairs_blockdist(e, "embedding", "vec_id", threshold=0.4)


_ORACLE_EMB_NEAR_DUP = f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) AS cosine
FROM iv a JOIN iv b ON a.vec_id < b.vec_id
WHERE {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) >= 0.4
"""


# Embedding dedup closed end-to-end: the cosine near-dup pairs feed the same
# connected-components operator as the text sketches; survivors = min vec_id
# per cluster plus every untouched row. One more composition point between
# the similarity and graph families, with a recursive-CTE oracle on top of
# the integer-exact pair SQL.


def q_emb_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cosine_pairs_blockdist

    e = t(spark, sf_dir, "embeddings")
    pairs = cosine_pairs_blockdist(e, "embedding", "vec_id", threshold=0.4)
    return graph.connected_components(pairs).select(
        F.col("node").alias("vec_id"), F.col("component").alias("cluster_id")
    )


_ORACLE_EMB_CLUSTERS = f"""
WITH RECURSIVE iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM iv a JOIN iv b ON a.vec_id < b.vec_id
  WHERE {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) >= 0.4
), edges AS (
  SELECT id_a AS u, id_b AS v FROM pairs
  UNION
  SELECT id_b AS u, id_a AS v FROM pairs
), walk(u, lbl) AS (
  SELECT u, u FROM (SELECT DISTINCT u FROM edges) nodes(u)
  UNION
  SELECT e.u, w.lbl FROM edges e JOIN walk w ON w.u = e.v
)
SELECT u AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY u
"""


def q_emb_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via sign-LSH buckets (scale path). The bucket bit is
    an exact integer sign test over the scaled vector and quantized
    hyperplanes, so the oracle reproduces bucket membership and cosine
    bit-for-bit (recall property tests in tests/)."""
    from ..operators.similarity import lsh_bucket_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return lsh_bucket_topk(e, q, dim=64, k=5, n_planes=6)


def _lsh_bucket_sql(seed: int = 42) -> str:
    """Bucket expression over an ``iv`` integer-vector column: the same
    quantized hyperplanes the Spark plan carries as literals."""
    from ..operators.similarity import _hyperplanes, quantize

    planes_int = [[quantize(x) for x in row] for row in _hyperplanes(64, 6, seed)]
    bits = []
    for i, p in enumerate(planes_int):
        lit = "[" + ", ".join(str(v) for v in p) + "]"
        bits.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65), j -> iv[j] * ({lit})[j])) > 0"
            f" THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(bits)


_ORACLE_LSH_TOPK = f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), sigs AS (
  SELECT vec_id, iv, {_lsh_bucket_sql()} AS bucket FROM iv
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) AS cosine
  FROM sigs a JOIN sigs b
    ON a.vec_id < 20 AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def q_emb_lsh_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table LSH: 4 independent plane sets; a candidate only has to
    collide in one table (recall amplification 1−(1−p)^4)."""
    from ..operators.similarity import lsh_multitable_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return lsh_multitable_topk(e, q, dim=64, k=5, n_planes=6, n_tables=4)


_LSH_MT_BUCKETS = ",\n         ".join(
    f"{_lsh_bucket_sql(seed=42 + t)} AS bucket{t}" for t in range(4)
)
_LSH_MT_COLLIDE = " OR ".join(f"a.bucket{t} = b.bucket{t}" for t in range(4))

_ORACLE_LSH_MULTITABLE = f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), sigs AS (
  SELECT vec_id, iv,
         {_LSH_MT_BUCKETS}
  FROM iv
), pairs AS (
  SELECT DISTINCT a.vec_id AS qid, b.vec_id AS cid
  FROM sigs a JOIN sigs b
    ON a.vec_id < 20 AND a.vec_id <> b.vec_id AND ({_LSH_MT_COLLIDE})
), scored AS (
  SELECT p.qid AS query_id, p.cid AS corpus_id,
         {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) AS cosine
  FROM pairs p
  JOIN iv a ON a.vec_id = p.qid
  JOIN iv b ON b.vec_id = p.cid
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def _build_ivf_oracle(sf_dir: str | None = None, n_probe: int = 1) -> str | None:
    """IVF oracle: re-run the exact centroid training (same numpy Lloyd code
    over the same first-4096-by-id rows) against the check's parquet, then
    inline the quantized centroids as literals. The driver's differential
    check runs at sf0.01; ``SPARK_GRAFT_ORACLE_SF`` points elsewhere for
    local checks at other scale factors. Returns None (rows-only fallback)
    if the table can't be read here."""
    import os

    try:
        import duckdb
        import numpy as np

        from ..operators.similarity import lloyd_centroids, quantize

        sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 4096"
        ).fetchall()
        con.close()
        if not rows:
            return None
        x = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        cents = lloyd_centroids(x, n_cells=8, iters=3)
        cents_int = [[quantize(v) for v in row] for row in cents]
    except Exception:
        return None
    cents_sql = (
        "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in cents_int) + "]"
    )
    base_ctes = f"""iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), d2s AS (
  SELECT vec_id, iv,
         list_transform({cents_sql}, c ->
           list_sum(list_transform(range(1, 65), j -> (iv[j] - c[j]) * (iv[j] - c[j])))) AS d2
  FROM iv
), cells AS (
  SELECT vec_id, iv, list_position(d2, list_min(d2)) AS cell FROM d2s
)"""
    if n_probe <= 1:
        return f"""
WITH {base_ctes}, scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) AS cosine
  FROM cells a JOIN cells b
    ON a.vec_id < 20 AND a.cell = b.cell AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""
    # multi-probe: each query fans out to its n_probe nearest cells (stable
    # tie-break: distance, then cell index — the engine's stable argsort).
    return f"""
WITH {base_ctes}, qd AS (
  SELECT vec_id, iv, unnest(range(1, {len(cents_int) + 1})) AS cell, unnest(d2) AS dist
  FROM d2s WHERE vec_id < 20
), qprobe AS (
  SELECT vec_id, iv, cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn FROM qd
  ) WHERE rn <= {n_probe}
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         {_SQL_DOT} / ({_SQL_NRM.format(s='a')} * {_SQL_NRM.format(s='b')}) AS cosine
  FROM qprobe a JOIN cells b
    ON a.cell = b.cell AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


# --------------------------------------------------------------------------
# Multimodal plumbing: documents' text bytes stand in for media payloads;
# the fake decoder exercises the real mapInPandas/Arrow path (rows-only).


def q_emb_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via an IVF coarse quantizer. Training is driver-side
    deterministic numpy (Lloyd over the first 4096 rows by id); the oracle
    builder reruns the identical training on the same rows and inlines the
    quantized centroids as SQL literals, so cell assignment (exact integer
    L2 argmin) and cosine match bit-for-bit."""
    from ..operators.similarity import ivf_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return ivf_topk(e, q, dim=64, k=5, n_cells=8)


def _build_pq_oracle(
    sf_dir: str | None = None, rerank: bool = False
) -> str | None:
    """PQ oracle: re-train the per-subspace codebooks with the same Lloyd
    code on the same first-4096-by-id rows, inline them as literals, and
    recompute corpus codes + ADC distances with exact integer arithmetic.

    ``rerank=True`` builds the TWO-STAGE oracle instead (emb_rerank_topk):
    ADC shortlist of 20, then exact integer-grid d² on the full vectors,
    final top-5 — the same composition ``similarity.rerank_exact(...,
    integer_scaled=True)`` executes."""
    import os

    n_sub, n_cent, dim = 16, 16, 64
    sub = dim // n_sub
    try:
        import duckdb
        import numpy as np

        from ..operators.similarity import pq_codebooks_from_sample, quantize

        sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 4096"
        ).fetchall()
        con.close()
        if not rows:
            return None
        x = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        cbs = pq_codebooks_from_sample(x, n_sub, n_cent)
        cbs_int = [[[quantize(v) for v in row] for row in cb] for cb in cbs]
    except Exception:
        return None

    cents = [
        "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in cb) + "]"
        for cb in cbs_int
    ]
    dist_cols = ", ".join(
        f"""list_transform({cents[s]}, c ->
           list_sum(list_transform(range(1, {sub + 1}), j ->
             (iv[{s * sub} + j] - c[j]) * (iv[{s * sub} + j] - c[j])))) AS d_{s}"""
        for s in range(n_sub)
    )
    code_cols = ", ".join(
        f"list_position(d_{s}, list_min(d_{s})) AS code_{s}" for s in range(n_sub)
    )
    # reconstruct the decoded vector ONCE per corpus row (literal codebook
    # lookups are interpreted per evaluation — doing them inside the 20k-pair
    # join made the oracle ~45× slower)
    recon = " || ".join(
        f"list_extract({cents[s]}, code_{s})" for s in range(n_sub)
    )
    prefix = f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), dists AS (
  SELECT vec_id, iv, {dist_cols} FROM iv
), codes AS (
  SELECT vec_id, iv, {code_cols} FROM dists
), recon AS (
  SELECT vec_id, iv, {recon} AS rv FROM codes
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         CAST(list_sum(list_transform(range(1, {dim + 1}), j ->
           (a.iv[j] - b.rv[j]) * (a.iv[j] - b.rv[j]))) AS BIGINT) AS d2
  FROM recon a JOIN recon b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, corpus_id ASC) AS rank
  FROM scored
)"""
    if not rerank:
        return (
            prefix
            + "\nSELECT query_id, corpus_id, d2, CAST(rank AS INT) AS rank "
            "FROM ranked WHERE rank <= 5\n"
        )
    return (
        prefix
        + f"""
, short AS (
  SELECT query_id, corpus_id FROM ranked WHERE rank <= 20
), exact AS (
  SELECT s.query_id, s.corpus_id,
         CAST(list_sum(list_transform(range(1, {dim + 1}), j ->
           (qa.iv[j] - ca.iv[j]) * (qa.iv[j] - ca.iv[j]))) AS BIGINT) AS d2
  FROM short s
  JOIN iv qa ON qa.vec_id = s.query_id
  JOIN iv ca ON ca.vec_id = s.corpus_id
), rranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, corpus_id ASC) AS rank
  FROM exact
)
SELECT query_id, corpus_id, d2, CAST(rank AS INT) AS rank FROM rranked WHERE rank <= 5
"""
    )


def _build_ivfpq_oracle(sf_dir: str | None = None) -> str | None:
    """IVF-PQ oracle: retrain BOTH quantizers (coarse Lloyd cells + PQ
    codebooks) on the same sample, inline all literals; candidates join on
    equal cell, distances from the reconstructed vectors."""
    import os

    n_cells, n_sub, n_cent, dim = 8, 16, 16, 64
    sub = dim // n_sub
    try:
        import duckdb
        import numpy as np

        from ..operators.similarity import (
            lloyd_centroids,
            pq_codebooks_from_sample,
            quantize,
        )

        sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 4096"
        ).fetchall()
        con.close()
        if not rows:
            return None
        x = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        ivf = [[quantize(v) for v in row] for row in lloyd_centroids(x, n_cells, 3)]
        cbs = pq_codebooks_from_sample(x, n_sub, n_cent)
        cbs_int = [[[quantize(v) for v in row] for row in cb] for cb in cbs]
    except Exception:
        return None

    ivf_sql = (
        "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in ivf) + "]"
    )
    cents = [
        "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in cb) + "]"
        for cb in cbs_int
    ]
    dist_cols = ", ".join(
        f"""list_transform({cents[s]}, c ->
           list_sum(list_transform(range(1, {sub + 1}), j ->
             (iv[{s * sub} + j] - c[j]) * (iv[{s * sub} + j] - c[j])))) AS d_{s}"""
        for s in range(n_sub)
    )
    code_cols = ", ".join(
        f"list_position(d_{s}, list_min(d_{s})) AS code_{s}" for s in range(n_sub)
    )
    recon = " || ".join(f"list_extract({cents[s]}, code_{s})" for s in range(n_sub))
    return f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), celld AS (
  SELECT vec_id, iv,
         list_transform({ivf_sql}, c ->
           list_sum(list_transform(range(1, {dim + 1}), j -> (iv[j] - c[j]) * (iv[j] - c[j])))) AS cd
  FROM iv
), dists AS (
  SELECT vec_id, iv, list_position(cd, list_min(cd)) AS cell, {dist_cols} FROM celld
), codes AS (
  SELECT vec_id, iv, cell, {code_cols} FROM dists
), recon AS (
  SELECT vec_id, iv, cell, {recon} AS rv FROM codes
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         CAST(list_sum(list_transform(range(1, {dim + 1}), j ->
           (a.iv[j] - b.rv[j]) * (a.iv[j] - b.rv[j]))) AS BIGINT) AS d2
  FROM recon a JOIN recon b
    ON a.vec_id < 20 AND a.cell = b.cell AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, d2, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def q_emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed: coarse cell shortlist, PQ/ADC ranking within."""
    from ..operators.similarity import ivf_pq_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return ivf_pq_topk(e, q, dim=64, k=5, n_cells=8, n_sub=16, n_cent=16)


def _build_ivfpq_residual_oracle(sf_dir: str | None = None) -> str | None:
    """Residual IVF-PQ oracle: retrain the coarse quantizer AND the
    residual-space codebooks with the shared trainer
    (``residual_codebooks_from_sample``), inline all literals. Every row's
    residual is taken against its own cell's centroid; the equal-cell join
    makes that identical to the engine's probed-cell residual."""
    import os

    n_cells, n_sub, n_cent, dim = 8, 16, 16, 64
    sub = dim // n_sub
    try:
        import duckdb
        import numpy as np

        from ..operators.similarity import (
            lloyd_centroids,
            quantize,
            residual_codebooks_from_sample,
        )

        sf = sf_dir or os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")
        con = duckdb.connect()
        rows = con.sql(
            f"SELECT embedding FROM read_parquet('{sf}/embeddings.parquet') "
            "ORDER BY vec_id LIMIT 4096"
        ).fetchall()
        con.close()
        if not rows:
            return None
        x = np.array([np.asarray(r[0], dtype=np.float64) for r in rows])
        ivf = [[quantize(v) for v in row] for row in lloyd_centroids(x, n_cells, 3)]
        rcb_int = residual_codebooks_from_sample(x, ivf, n_sub, n_cent)
    except Exception:
        return None

    ivf_sql = (
        "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in ivf) + "]"
    )
    cents = [
        "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in cb) + "]"
        for cb in rcb_int
    ]
    dist_cols = ", ".join(
        f"""list_transform({cents[s]}, c ->
           list_sum(list_transform(range(1, {sub + 1}), j ->
             (riv[{s * sub} + j] - c[j]) * (riv[{s * sub} + j] - c[j])))) AS d_{s}"""
        for s in range(n_sub)
    )
    code_cols = ", ".join(
        f"list_position(d_{s}, list_min(d_{s})) AS code_{s}" for s in range(n_sub)
    )
    recon = " || ".join(f"list_extract({cents[s]}, code_{s})" for s in range(n_sub))
    return f"""
WITH iv AS (
  SELECT vec_id, {_SQL_IV} AS iv FROM embeddings
), celld AS (
  SELECT vec_id, iv,
         list_transform({ivf_sql}, c ->
           list_sum(list_transform(range(1, {dim + 1}), j -> (iv[j] - c[j]) * (iv[j] - c[j])))) AS cd
  FROM iv
), resid AS (
  SELECT vec_id, list_position(cd, list_min(cd)) AS cell,
         list_transform(range(1, {dim + 1}), j ->
           iv[j] - list_extract(list_extract({ivf_sql}, list_position(cd, list_min(cd))), j)) AS riv
  FROM celld
), dists AS (
  SELECT vec_id, cell, riv, {dist_cols} FROM resid
), codes AS (
  SELECT vec_id, cell, riv, {code_cols} FROM dists
), recon AS (
  SELECT vec_id, cell, riv, {recon} AS rrv FROM codes
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS corpus_id,
         CAST(list_sum(list_transform(range(1, {dim + 1}), j ->
           (a.riv[j] - b.rrv[j]) * (a.riv[j] - b.rrv[j]))) AS BIGINT) AS d2
  FROM recon a JOIN recon b
    ON a.vec_id < 20 AND a.cell = b.cell AND a.vec_id <> b.vec_id
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY d2 ASC, corpus_id ASC) AS rank
  FROM scored
)
SELECT query_id, corpus_id, d2, CAST(rank AS INT) AS rank FROM ranked WHERE rank <= 5
"""


def q_emb_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ: codes quantize v − centroid(cell) (FAISS default)."""
    from ..operators.similarity import ivf_pq_residual_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return ivf_pq_residual_topk(e, q, dim=64, k=5, n_cells=8, n_sub=16, n_cent=16)


def q_emb_ivfpq_search_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED IVF-PQ index (FAISS IVFPQ's on-disk form): centroids +
    residual codebooks + a cell-partitioned CODES table (n_sub bytes per
    vector — the 100 TB tier below raw-vector cells), searched via
    partition-pruned integer ADC. The quantizers train on the same
    deterministic sample as the in-memory ivf_pq_residual_topk, so results
    are bit-identical and this query shares its oracle.

    The index is built ONCE per corpus into a deterministic scratch dir
    and reused (build-once-search-many is the production shape, and it is
    what repeated bench passes should measure); the build is atomic via
    build-into-tmp + rename, so a crashed build is never half-reused."""
    from ..operators.similarity import ivf_pq_build_index, ivf_pq_search_index

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    path = corpus_fixture(
        sf_dir,
        "embeddings",
        "ivfpq",
        "dim=64|c=8|s=16|k=16|v1",
        lambda tmp: ivf_pq_build_index(
            spark, e, tmp, dim=64, n_cells=8, n_sub=16, n_cent=16
        ),
    )
    return ivf_pq_search_index(spark, q, path, k=5)


def q_emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k: corpus compressed to 4 codebook
    codes, queries score via integer lookup tables; codebooks train on the
    same deterministic sample the oracle re-trains on."""
    from ..operators.similarity import pq_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return pq_topk(e, q, dim=64, k=5, n_sub=16, n_cent=16)


def q_emb_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (the recommended PQ usage, SCALE.md clustered
    ladder): PQ-ADC shortlist of 20 candidates per query, exact
    integer-grid L2 re-rank to the final top-5. Stage 1 scans compressed
    codes only; stage 2 touches queries x 20 full vectors."""
    from ..operators.similarity import pq_topk, rerank_exact

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    shortlist = pq_topk(e, q, dim=64, k=20, n_sub=16, n_cent=16)
    return rerank_exact(shortlist, e, q, k=5, metric="l2", integer_scaled=True)


def q_emb_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF (n_probe=2): each query scores the corpus in its TWO
    nearest cells — the standard recall knob (probing more cells trades
    linear candidate cost for recall while the corpus stays single-cell
    partitioned). Probe selection ties break stably (distance, then cell
    index) on both engines."""
    from ..operators.similarity import ivf_topk

    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 20)
    return ivf_topk(e, q, dim=64, k=5, n_cells=8, n_probe=2)


# --------------------------------------------------------------------------
# Corpus profiling: exact per-language token-count quantiles. Spark
# F.percentile and DuckDB quantile_cont share the same definition
# (pos = p·(N−1), linear interpolation), so values match to the 6dp round.


def q_doc_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n = text.token_count(F.col("text")).cast("bigint")
    return (
        d.select(F.col("lang"), n.alias("n_tokens"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.percentile("n_tokens", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("n_tokens", F.lit(0.9)), 6).alias("p90"),
            F.round(F.percentile("n_tokens", F.lit(0.99)), 6).alias("p99"),
        )
    )


_ORACLE_DOC_QUANTILES = f"""
WITH counts AS (
  SELECT lang,
         CAST(CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_TOKS}) END AS BIGINT) AS n_tokens
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(quantile_cont(n_tokens, 0.5), 6) AS p50,
       ROUND(quantile_cont(n_tokens, 0.9), 6) AS p90,
       ROUND(quantile_cont(n_tokens, 0.99), 6) AS p99
FROM counts GROUP BY lang
"""

# --------------------------------------------------------------------------
# Deterministic stratified sampling: md5-threshold keep (per-language rate).
# Hash sampling is the scale idiom — partition-local, no shuffle, stable
# across reruns and engines (vs. Bernoulli rand()), and the sample is
# reproducible from the id alone.


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    thr = F.when(F.col("lang") == "en", F.lit("2000")).otherwise(F.lit("8000"))
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return d.filter(key < thr).select("doc_id", "lang", "source")


_ORACLE_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < CASE WHEN lang = 'en' THEN '2000' ELSE '8000' END
"""


def q_stratified_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY k docs per stratum (vs the rate-based sample above, whose
    per-stratum size floats with the data): deterministic hash-rank — the
    k smallest md5 keys per lang. Growth-stable the way a training-data
    eval split needs to be: adding new docs can only displace, never
    reshuffle, the selection (a doc leaves only when a smaller-keyed doc
    arrives). One window shuffle on the stratum key."""
    from ..operators.sketches import portable_hash60
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        portable_hash60(F.col("doc_id")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "lang", "source")
        .withColumn("sample_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("sample_rank") <= 20)
    )


_ORACLE_STRATIFIED_FIXED_K = """
SELECT doc_id, lang, source, CAST(rn AS INT) AS sample_rank
FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY CAST(list_sum(list_transform(range(1, 16), i ->
             CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
             << (4 * (15 - i)))) AS BIGINT) ASC, doc_id ASC) AS rn
  FROM documents
)
WHERE rn <= 20
"""


# --------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules): duplicate-line fraction
# and most-common-word-bigram fraction. Line stats are pure Column
# expressions per row; the bigram mode runs explode → two partial-agg
# shuffles (doc_id+gram, then doc_id) — the scale-correct shape for a
# per-document mode (an in-row HOF mode would be O(n_bigrams²) per doc).


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both metric families are row-local (each document's stats depend only
    # on its own text), so the whole query is ONE projection: line stats as
    # Column expressions + the bigram mode/total via the Arrow repetition
    # kernel. The r12 shape exploded the bigrams and shuffled the full
    # token stream through groupBy(doc, g) → groupBy(doc) → join — two
    # corpus-sized exchanges plus a join for a per-row fact (guide §8).
    # spread_rows keeps the per-doc compute on every core locally and is a
    # no-op once the scan has cluster-scale splits.
    # NULL-text docs are excluded explicitly: the pre-kernel explode→group
    # →join shape dropped them via the inner join, while the row-local
    # kernel would emit top=0/n=0 (and a NaN fraction) — the filter pins
    # the original row set whatever the data holds (ADVICE r13).
    d = dedup.spread_rows(
        t(spark, sf_dir, "documents").filter(F.col("text").isNotNull()),
        "doc_id",
    )
    ls = text.line_stats(F.col("text"))
    st = text.repetition_stats(F.col("text"), 2)
    return d.select(
        F.col("doc_id"), ls.alias("_ls"), st.alias("_st")
    ).select(
        "doc_id",
        F.col("_ls.n_lines").cast("bigint").alias("n_lines"),
        F.round(
            F.when(
                F.col("_ls.n_lines") > 0,
                F.lit(1.0)
                - F.col("_ls.n_distinct_lines").cast("double") / F.col("_ls.n_lines"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_fraction"),
        F.col("_st.top").alias("top_bigram_count"),
        F.col("_st.n").alias("n_bigrams"),
        F.round(
            F.col("_st.top").cast("double") / F.col("_st.n"), 6
        ).alias("top_bigram_fraction"),
    )


# DuckDB twin of operators.text.shingles(col, k=2) — whole-text fallback for
# docs shorter than 2 tokens, inclusive-bounds slices otherwise.
_SQL_BIGRAMS = """
CASE WHEN len(toks) <= 2 THEN [array_to_string(toks, ' ')]
     ELSE list_transform(range(0, len(toks) - 1), i -> array_to_string(toks[(i+1):(i+2)], ' '))
END
"""

_ORACLE_TEXT_REPETITION = f"""
WITH lines AS (
  SELECT doc_id,
         len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '')) AS n_lines,
         len(list_distinct(list_filter(string_split(text, chr(10)), l -> trim(l) <> ''))) AS nd
  FROM documents
), base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), bi AS (
  SELECT doc_id, unnest({_SQL_BIGRAMS}) AS g FROM base
), cnt AS (
  SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2
), agg AS (
  SELECT doc_id, MAX(c) AS top_bigram_count, SUM(c) AS n_bigrams
  FROM cnt GROUP BY 1
)
SELECT l.doc_id,
       CAST(l.n_lines AS BIGINT) AS n_lines,
       ROUND(CASE WHEN l.n_lines > 0
                  THEN 1.0 - CAST(l.nd AS DOUBLE) / l.n_lines
                  ELSE 0.0 END, 6) AS dup_line_fraction,
       CAST(a.top_bigram_count AS BIGINT) AS top_bigram_count,
       CAST(a.n_bigrams AS BIGINT) AS n_bigrams,
       ROUND(CAST(a.top_bigram_count AS DOUBLE) / a.n_bigrams, 6) AS top_bigram_fraction
FROM lines l JOIN agg a ON l.doc_id = a.doc_id
"""

# --------------------------------------------------------------------------
# Sequence packing: context-window binning per (lang) stratum — see
# operators.pack for the scale rationale (one window shuffle per stratum,
# never a global window).


def q_doc_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import pack

    d = t(spark, sf_dir, "documents")
    withtok = d.select(
        "doc_id",
        "lang",
        text.token_count(F.col("text")).cast("bigint").alias("n_tokens"),
    )
    return pack.pack_sequences(
        withtok, "n_tokens", "doc_id", budget=2048, strata=["lang"]
    ).select("doc_id", "lang", "n_tokens", "bin_id", "bin_offset")


_ORACLE_DOC_PACK = f"""
WITH tok AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_TOKS}) END AS BIGINT) AS n_tokens
  FROM documents
), s AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM tok
)
SELECT doc_id, lang, n_tokens,
       CAST(FLOOR(CAST(start AS DOUBLE) / 2048) AS BIGINT) AS bin_id,
       CAST(start % 2048 AS BIGINT) AS bin_offset
FROM s
"""


# --------------------------------------------------------------------------
# Document chunking: overlapping 256-token windows with stride 128 — the
# long-document splitting step of a training pipeline. Chunk math is
# closed-form integer arithmetic so the oracle reproduces it exactly.


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    chunks = d.select(
        "doc_id",
        F.posexplode(text.chunk_tokens(F.col("text"), 256, 128)).alias(
            "chunk_id", "c"
        ),
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("c.start").alias("start_token"),
        F.col("c.n_tokens").alias("n_tokens"),
        F.md5("c.chunk").alias("chunk_md5"),
    )


_ORACLE_DOC_CHUNKS = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), meta AS (
  SELECT doc_id, toks, len(toks) AS n,
         CAST((GREATEST(len(toks) - 256, 0) + 127) // 128 + 1 AS INT) AS n_chunks
  FROM base
)
SELECT doc_id,
       CAST(i AS INT) AS chunk_id,
       CAST(i * 128 AS INT) AS start_token,
       CAST(LEAST(256, n - i * 128) AS INT) AS n_tokens,
       md5(array_to_string(toks[(i*128+1):(i*128+256)], ' ')) AS chunk_md5
FROM meta, unnest(range(0, n_chunks)) AS u(i)
"""


# --------------------------------------------------------------------------
# Weighted mixture sampling: per-SOURCE rates (how training mixtures are
# drawn — upsample books, downsample crawl), deterministic md5-threshold
# keep like stratified_sample: shuffle-free, reproducible from the id alone,
# and the sampled set is STABLE under corpus growth (a doc's fate never
# depends on other rows).

# rates over the fixture's source domain (src0..src19): upsample src1 to
# keep-all, src2 heavily, downsample src3; everything else a thin default
_MIX_RATES = {"src1": "ffff", "src2": "e000", "src3": "0800", "src4": "8000"}


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    thr = F.lit("2000")  # default rate for unlisted sources
    for src, hexthr in _MIX_RATES.items():
        thr = F.when(F.col("source") == src, F.lit(hexthr)).otherwise(thr)
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    return d.filter(key < thr).select("doc_id", "lang", "source")


_ORACLE_CORPUS_MIX = """
SELECT doc_id, lang, source FROM documents
WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
      < CASE source {cases} ELSE '2000' END
""".format(
    cases=" ".join(f"WHEN '{s}' THEN '{h}'" for s, h in _MIX_RATES.items())
)

# --------------------------------------------------------------------------
# Deterministic training-order shuffle: the global permutation every
# training run needs (data order is a hyperparameter — replaying a run
# requires the same order). Position = global rank of md5(doc_id || salt)
# — a pseudorandom permutation reproducible from the id alone, no RNG
# state, re-shuffled per epoch by changing the salt. Engine shape: a
# GLOBAL row_number is a single-partition window (the classic scale
# killer), so the rank is computed distributed — 256 key-prefix buckets,
# cumulative bucket offsets from a 256-row metadata aggregate (broadcast),
# per-bucket windows in parallel: position = offset(bucket) + local rank.
# Identical to the global ROW_NUMBER by construction (the prefix orders
# consistently with the key).


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|epoch-7")))
    rows = d.select(
        F.col("doc_id"), key.alias("k"), F.substring(key, 1, 2).alias("b")
    )
    counts = rows.groupBy("b").agg(F.count(F.lit(1)).alias("n"))
    w256 = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(  # 256 rows: exclusive prefix sum
        "b", F.coalesce(F.sum("n").over(w256), F.lit(0)).alias("off")
    )
    wb = Window.partitionBy("b").orderBy(F.col("k").asc(), F.col("doc_id").asc())
    return (
        rows.join(F.broadcast(offsets), "b")
        .select(
            "doc_id",
            (F.col("off") + F.row_number().over(wb)).cast("bigint").alias(
                "position"
            ),
        )
    )


_ORACLE_CORPUS_SHUFFLE = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (
         ORDER BY md5(CAST(doc_id AS VARCHAR) || '|epoch-7') ASC, doc_id ASC
       ) AS BIGINT) AS position
FROM documents
"""


# --------------------------------------------------------------------------
# Length-bucketed batching: group documents of similar token counts into
# fixed-size batches so per-batch padding (to the batch max) is minimal —
# the standard padding-efficiency step before packing/training. Buckets are
# token-count ranges (width 16); batch id = row_number within the bucket
# div batch_size (deterministic doc_id order); padding waste is EXACT
# integer accounting: batch_size·max − Σtokens over full batches. Engine
# shape: one shuffle on the bucket window, integer math only.


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    batch_size = 8
    d = t(spark, sf_dir, "documents")
    n = text.token_count(F.col("text")).cast("bigint")
    rows = d.select(
        F.col("doc_id"), n.alias("n_tokens"),
        (n / 16).cast("bigint").alias("bucket"),
    )
    w = Window.partitionBy("bucket").orderBy(
        F.col("n_tokens").asc(), F.col("doc_id").asc()
    )
    batched = rows.withColumn(
        "batch",
        ((F.row_number().over(w) - 1) / batch_size).cast("bigint"),
    )
    return (
        batched.groupBy("bucket", "batch")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
        )
        .withColumn(
            "padding_waste",
            (F.col("n_docs") * F.col("max_tokens") - F.col("total_tokens"))
            .cast("bigint"),
        )
    )


_ORACLE_LENGTH_BUCKETS = f"""
WITH toks AS (
  SELECT doc_id, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
  FROM documents
), b AS (
  SELECT doc_id, n_tokens, n_tokens // 16 AS bucket,
         (ROW_NUMBER() OVER (PARTITION BY n_tokens // 16
                             ORDER BY n_tokens ASC, doc_id ASC) - 1) // 8 AS batch
  FROM toks
)
SELECT bucket, batch,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens,
       CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT) AS padding_waste
FROM b
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Temperature-scaled corpus mixing (the multilingual-training standard:
# up-sample low-resource groups by share^(1/T)): at T=2 the up-sampling
# factor is sqrt(n_max/n_lang), computed ENTIRELY in integers —
# q = (n_max·10^6) DIV n_lang, factor_milli = FLOOR(SQRT(q)) DIV 1000·...
# — actually factor in thousandths = isqrt(q) with q ≤ 5·10^10, where
# IEEE sqrt is exactly floor-safe (the nearest half-ulp boundary needs
# m > 2^26; our m ≤ ~2.2·10^5). No pow/log anywhere; both engines produce
# bit-identical integers.


def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    mx = counts.agg(F.max("n_docs").alias("n_max"))
    return (
        counts.crossJoin(F.broadcast(mx))  # 1-row scalar broadcast
        .withColumn(
            "rep_milli",
            F.expr(
                "CAST(FLOOR(SQRT(CAST((n_max * 1000000) div n_docs AS DOUBLE)))"
                " AS BIGINT)"
            ),
        )
        .withColumn(
            "planned_docs", F.expr("(n_docs * rep_milli) div 1000")
        )
        .select("lang", "n_docs", "rep_milli", "planned_docs")
    )


_ORACLE_TEMPERATURE_MIX = """
WITH counts AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
), mx AS (
  SELECT MAX(n_docs) AS n_max FROM counts
)
SELECT lang, n_docs,
       CAST(FLOOR(SQRT(CAST((n_max * 1000000) // n_docs AS DOUBLE))) AS BIGINT) AS rep_milli,
       CAST((n_docs * CAST(FLOOR(SQRT(CAST((n_max * 1000000) // n_docs AS DOUBLE))) AS BIGINT)) // 1000 AS BIGINT) AS planned_docs
FROM counts, mx
"""

# --------------------------------------------------------------------------
# Importance-weighted sampling: keep-probability computed from CONTENT
# (longer documents kept proportionally more often, capped at 1) instead of
# a per-group rate table — the "weight by quality/length" downsampling step
# of a training mixer. Deterministic Bernoulli via the shared 60-bit hash:
# u = h/2^60 < min(1, n_tokens/2000). Every op here (long→double cast,
# divide, compare) is IEEE-correctly-rounded, so Spark and DuckDB agree
# bit-for-bit — no pow/log (whose last-ulp behavior is libm-specific) near
# the selection boundary. Single scan, shuffle-free, reproducible from the
# doc_id alone at any corpus size.

_TWO_POW_60 = float(1 << 60)

# DuckDB twin of operators.sketches.portable_hash60 over doc_id
_SQL_H60_DOCID = (
    "list_sum(list_transform(range(1, 16), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)"
    " << (4 * (15 - i))))"
)


def q_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import portable_hash60

    d = t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text")).cast("bigint")
    base = d.select("doc_id", "source", n_tok.alias("n_tokens"))
    p = F.least(F.lit(1.0), F.col("n_tokens").cast("double") / F.lit(2000.0))
    u = portable_hash60(F.col("doc_id")).cast("double") / F.lit(_TWO_POW_60)
    return (
        base.withColumn("keep_p", F.round(p, 6))
        .filter(u < p)
        .select("doc_id", "source", "n_tokens", "keep_p")
    )


_ORACLE_IMPORTANCE_SAMPLE = f"""
WITH base AS (
  SELECT doc_id, source,
         CAST(CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_TOKS}) END AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, source, n_tokens,
       ROUND(LEAST(1.0, CAST(n_tokens AS DOUBLE) / 2000.0), 6) AS keep_p
FROM base
WHERE CAST({_SQL_H60_DOCID} AS DOUBLE) / {_TWO_POW_60!r}
      < LEAST(1.0, CAST(n_tokens AS DOUBLE) / 2000.0)
"""

# --------------------------------------------------------------------------
# Epoch resampling: deterministic UP-sampling with fractional repeat
# factors — how training mixtures realize "books ×3.25 epochs, crawl ×0.5":
# every doc yields floor(w) copies plus one more for a hash-selected
# frac(w) slice of its source. Integer/string comparisons only (the
# fractional coin is the same md5-prefix threshold idiom as corpus_mix),
# zero float ops. The explode is sequence(1, n) — row count scales with
# the OUTPUT (sum of weights), data never shuffles.

# source → (whole epochs, fractional-coin hex threshold: frac·0x10000)
_RESAMPLE = {"src1": (3, "4000"), "src2": (0, "8000"), "src3": (2, "0000")}
_RESAMPLE_DEFAULT = (1, "0000")


def q_corpus_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    base = F.lit(_RESAMPLE_DEFAULT[0])
    thr = F.lit(_RESAMPLE_DEFAULT[1])
    for src, (b, frac) in _RESAMPLE.items():
        base = F.when(F.col("source") == src, F.lit(b)).otherwise(base)
        thr = F.when(F.col("source") == src, F.lit(frac)).otherwise(thr)
    key = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    n = (base + (key < thr).cast("int")).alias("n_copies")
    return (
        d.select(F.col("doc_id"), F.col("source"), n)
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.col("n_copies").cast("int").alias("n_copies"),
            F.explode(
                F.sequence(F.lit(1), F.col("n_copies"))
            ).alias("epoch"),
        )
        .withColumn("epoch", F.col("epoch").cast("int"))
    )


_ORACLE_CORPUS_RESAMPLE = """
WITH meta AS (
  SELECT doc_id, source,
         (CASE source {bases} ELSE {db} END
          + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                      < (CASE source {fracs} ELSE '{df}' END)
                 THEN 1 ELSE 0 END) AS n_copies
  FROM documents
)
SELECT doc_id, source, CAST(n_copies AS INT) AS n_copies, CAST(e AS INT) AS epoch
FROM meta, unnest(range(1, n_copies + 1)) AS u(e)
WHERE n_copies >= 1
""".format(
    bases=" ".join(f"WHEN '{s}' THEN {b}" for s, (b, _) in _RESAMPLE.items()),
    db=_RESAMPLE_DEFAULT[0],
    fracs=" ".join(f"WHEN '{s}' THEN '{h}'" for s, (_, h) in _RESAMPLE.items()),
    df=_RESAMPLE_DEFAULT[1],
)

# --------------------------------------------------------------------------
# Corpus filtering: C4/Gopher-style survivor selection composing the quality
# signals — per-row Column expressions only, so the filter is a single scan
# with the predicate evaluated inside codegen (no shuffle at any scale).


def q_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text"))
    ls = text.line_stats(F.col("text"))
    # mean token length over the single-space-normalized text:
    # (chars minus separators) / tokens
    norm_len = F.length(text.normalize(F.col("text")))
    out = d.select(
        "doc_id",
        "lang",
        n_tok.cast("bigint").alias("n_tokens"),
        ls.alias("_ls"),
        norm_len.alias("_nl"),
    ).select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(
            F.when(
                F.col("_ls.n_lines") > 0,
                F.lit(1.0)
                - F.col("_ls.n_distinct_lines").cast("double") / F.col("_ls.n_lines"),
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("dup_line_fraction"),
        F.round(
            (F.col("_nl") - (F.col("n_tokens") - 1)).cast("double")
            / F.col("n_tokens"),
            6,
        ).alias("mean_token_len"),
    )
    return out.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 100000)
        & (F.col("dup_line_fraction") < 0.5)
        & (F.col("mean_token_len") >= 2.0)
        & (F.col("mean_token_len") <= 12.0)
    )


_SQL_NTOK = f"CAST(CASE WHEN {_SQL_NORM} = '' THEN 0 ELSE len({_SQL_TOKS}) END AS BIGINT)"

_ORACLE_CORPUS_FILTER = f"""
WITH sig AS (
  SELECT doc_id, lang,
         {_SQL_NTOK} AS n_tokens,
         len(list_filter(string_split(text, chr(10)), l -> trim(l) <> '')) AS nl,
         len(list_distinct(list_filter(string_split(text, chr(10)), l -> trim(l) <> ''))) AS nd,
         length({_SQL_NORM}) AS norm_len
  FROM documents
), out AS (
  SELECT doc_id, lang, n_tokens,
         ROUND(CASE WHEN nl > 0 THEN 1.0 - CAST(nd AS DOUBLE) / nl
                    ELSE 0.0 END, 6) AS dup_line_fraction,
         ROUND(CAST(norm_len - (n_tokens - 1) AS DOUBLE) / n_tokens, 6)
           AS mean_token_len
  FROM sig
)
SELECT * FROM out
WHERE n_tokens >= 10 AND n_tokens <= 100000
  AND dup_line_fraction < 0.5
  AND mean_token_len >= 2.0 AND mean_token_len <= 12.0
"""

# --------------------------------------------------------------------------
# Corpus length histogram: log2 token buckets via binary-digit count —
# integer-exact in both engines (no float log), one partial-agg shuffle.


def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    n_tok = text.token_count(F.col("text")).cast("bigint")
    bucket = F.length(F.conv(n_tok.cast("string"), 10, 2)).cast("int")
    return (
        d.select(bucket.alias("log2_bucket"), n_tok.alias("n"))
        .groupBy("log2_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.min("n").cast("bigint").alias("min_tokens"),
            F.max("n").cast("bigint").alias("max_tokens"),
        )
    )


_ORACLE_DOC_LENGTH_HISTOGRAM = f"""
WITH tok AS (
  SELECT {_SQL_NTOK} AS n FROM documents
)
SELECT CAST(length(bin(n)) AS INT) AS log2_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(MIN(n) AS BIGINT) AS min_tokens,
       CAST(MAX(n) AS BIGINT) AS max_tokens
FROM tok GROUP BY 1
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-features plumbing over the fake decoder.

    The serving projection is scalar-only: the ``features`` array is folded
    to its integer code string (``round(f*97)`` recovers the exact code each
    float32 entry was built from) so the row set is hashable by the driver
    and DuckDB can recompute it from the decoder's closed-form definition.
    """
    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    feats = multimodal.image_features(d, fake=True)
    return feats.select(
        "media_id",
        "width",
        "height",
        F.round(F.col("mean_luma"), 6).alias("mean_luma"),
        F.concat_ws(
            ",",
            F.transform(
                F.col("features"),
                lambda x: F.round(x.cast("double") * 97).cast("int").cast("string"),
            ),
        ).alias("feature_codes"),
    )


# The fake decoder is closed-form over the payload byte stream; documents'
# text is ASCII in the synthetic corpus, so DuckDB recomputes byte length /
# byte sums from the characters directly (ord == byte for ASCII).
_ORACLE_MULTIMODAL = """
WITH base AS (
  SELECT doc_id AS media_id,
         length(text) AS n,
         COALESCE(list_sum(list_transform(range(1, least(length(text), 256) + 1),
                                          i -> ord(substr(text, i, 1)))), 0) AS s
  FROM documents
), dims AS (
  SELECT media_id, n,
         CAST(16 + n % 64 AS INT) AS width,
         CAST(16 + (n // 64) % 64 AS INT) AS height,
         ROUND((CAST(s AS DOUBLE) / greatest(least(n, 256), 1)) / 255.0, 6) AS mean_luma
  FROM base
)
SELECT media_id, width, height, mean_luma,
       array_to_string(list_transform(range(0, 8),
                                      i -> CAST((width * (i + 1) + height) % 97 AS VARCHAR)),
                       ',') AS feature_codes
FROM dims
"""


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio decode+feature plumbing over the fake decoder: duration/rms are
    closed-form over the payload bytes; the MFCC-shaped vector folds to its
    integer codes (``round(f*31)``) for the hashable serving projection."""
    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    feats = multimodal.audio_features(d, fake=True)
    return feats.select(
        "media_id",
        "duration_ms",
        F.round(F.col("rms"), 6).alias("rms"),
        F.concat_ws(
            ",",
            F.transform(
                F.col("mfcc"),
                lambda x: F.round(x.cast("double") * 31).cast("int").cast("string"),
            ),
        ).alias("mfcc_codes"),
    )


_ORACLE_MULTIMODAL_AUDIO = """
WITH base AS (
  SELECT doc_id AS media_id,
         length(text) AS n,
         COALESCE(list_sum(list_transform(range(1, least(length(text), 256) + 1),
                                          i -> ord(substr(text, i, 1))
                                               * ord(substr(text, i, 1)))), 0) AS s2
  FROM documents
)
SELECT media_id,
       CAST(n * 8 AS BIGINT) AS duration_ms,
       ROUND(sqrt(CAST(s2 AS DOUBLE) / greatest(least(n, 256), 1)) / 255.0, 6) AS rms,
       array_to_string(list_transform(range(0, 8),
                                      i -> CAST((n * (i + 3)) % 31 AS VARCHAR)),
                       ',') AS mfcc_codes
FROM base
"""


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (explode-shaped mapInPandas): one row
    per sampled frame, frame count closed-form over payload size; the frame
    bytes decode back to text for the hashable projection (ASCII corpus)."""
    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    frames = multimodal.frame_sample(d, fake=True, every_ms=1000)
    return frames.select(
        "media_id",
        "frame_idx",
        "ts_ms",
        F.decode(F.col("frame"), "utf-8").alias("frame_str"),
    )


_ORACLE_MULTIMODAL_FRAMES = """
WITH base AS (
  SELECT doc_id AS media_id, length(text) AS n, substr(text, 1, 16) AS head
  FROM documents
), exploded AS (
  SELECT media_id, head,
         unnest(range(0, least(greatest(n // 100, 1), 10))) AS i
  FROM base
)
SELECT media_id, CAST(i AS INT) AS frame_idx,
       CAST(i * 1000 AS BIGINT) AS ts_ms, head AS frame_str
FROM exploded
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing: payload → resized payload (fake: byte-stream
    tile-and-truncate to the deterministic target size). The binary output
    is projected to (n_bytes, md5) so the driver can hash rows and DuckDB
    can recompute both from the ASCII source text."""
    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "utf-8").alias("payload"),
    )
    resized = multimodal.image_resize(d, fake=True, target_w=224, target_h=224)
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length(F.col("payload")).cast("long").alias("n_bytes"),
        F.md5(F.col("payload")).alias("payload_md5"),
    )


# fake resize target: 224·224/64 = 784 bytes, source tiled then truncated
_ORACLE_MULTIMODAL_RESIZE = """
WITH base AS (
  SELECT doc_id AS media_id, length(text) AS n,
         substr(repeat(text, 784 // greatest(length(text), 1) + 1), 1, 784) AS resized
  FROM documents
)
SELECT media_id, CAST(224 AS INT) AS width, CAST(224 AS INT) AS height,
       CAST(length(resized) AS BIGINT) AS n_bytes, md5(resized) AS payload_md5
FROM base
"""


# --------------------------------------------------------------------------
# Benchmark decontamination: shingle overlap vs a held-out benchmark slice.
# Here the "benchmark" is a deterministic slice of documents (doc_id % 97
# == 0) and the corpus is the rest; k=3 because the synthetic docs are
# short — the operator default is the literature's k=13.


def q_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import contamination

    d = t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination.contamination_overlap(
        corpus, bench, k=3, portable=True
    )


_ORACLE_DECONTAM_OVERLAP = f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKS} AS toks FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform({_SQL_SHINGLES}, s -> {_SQL_MD5KEY})) AS sh
  FROM base
), bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM sh WHERE doc_id % 97 = 0
), corpus AS (
  SELECT doc_id, len(sh) AS n_shingles, unnest(sh) AS s
  FROM sh WHERE doc_id % 97 != 0
)
SELECT doc_id,
       CAST(n_shingles AS INT) AS n_shingles,
       COUNT(*) AS n_hit,
       ROUND(CAST(COUNT(*) AS DOUBLE) / n_shingles, 6) AS contamination
FROM corpus
WHERE s IN (SELECT s FROM bench)
GROUP BY doc_id, n_shingles
"""


# --------------------------------------------------------------------------
# Vocabulary / keyword extraction / hashed linear quality scoring.


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return text.vocab_topk(d, n=100)


_ORACLE_VOCAB_TOPK = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), per_doc AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok != '' GROUP BY 1, 2
), stats AS (
  SELECT tok, CAST(SUM(tf) AS BIGINT) AS tf, COUNT(*) AS df
  FROM per_doc GROUP BY tok
), top AS (
  SELECT * FROM stats ORDER BY tf DESC, tok LIMIT 100
)
SELECT CAST(row_number() OVER (ORDER BY tf DESC, tok) AS INT) AS vocab_id,
       tok, tf, df
FROM top
"""


def q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return text.tfidf_keywords(d, top_per_doc=3)


_ORACLE_TFIDF_KEYWORDS = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), per_doc AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok != '' GROUP BY 1, 2
), dfreq AS (
  SELECT tok, COUNT(*) AS df FROM per_doc GROUP BY tok
), scored AS (
  SELECT p.doc_id, p.tok, p.tf, d.df,
         ROUND(CAST(p.tf AS DOUBLE) / (1 + d.df), 6) AS score
  FROM per_doc p JOIN dfreq d USING (tok)
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rank
  FROM scored
)
SELECT doc_id, rank, tok, tf, df, score FROM ranked WHERE rank <= 3
"""


def q_doc_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    return text.rarity_scores(d)


_ORACLE_DOC_RARITY = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), per_doc AS (
  SELECT doc_id, tok, COUNT(*) AS tf FROM tok WHERE tok != '' GROUP BY 1, 2
), dfreq AS (
  SELECT tok, COUNT(*) AS df FROM per_doc GROUP BY tok
), scored AS (
  SELECT p.doc_id,
         ROUND(CAST((SELECT COUNT(DISTINCT doc_id) FROM documents) AS DOUBLE)
               / (1 + d.df), 6) AS score
  FROM per_doc p JOIN dfreq d USING (tok)
)
SELECT doc_id, n_types,
       CAST((2 * s_e6 + n_types) // (2 * n_types) AS DOUBLE) / 1000000.0
         AS mean_rarity,
       max_rarity
FROM (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CAST(score AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS s_e6,
         MAX(score) AS max_rarity
  FROM scored GROUP BY doc_id
)
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    margin = text.hashed_linear_score(F.col("text"), n_buckets=1024)
    return d.select(
        "doc_id",
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    )


# The bucket weight ((bucket·KNUTH) mod 1000 − 500) is exact BIGINT math on
# both engines; the single final /1000 division of identical integers gives
# identical doubles.
_SQL_HLS_WEIGHT = (
    "CAST(((("
    "list_sum(list_transform(range(1, 16), i -> "
    "CAST(strpos('0123456789abcdef', substr(md5(tok), i, 1)) - 1 AS BIGINT)"
    " << (4 * (15 - i)))) % 1024 + 1024) % 1024) * 2654435761) % 1000"
    " - 500 AS BIGINT)"
)

_ORACLE_QUALITY_CLASSIFIER = f"""
WITH tok AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents
), weighted AS (
  SELECT doc_id, {_SQL_HLS_WEIGHT} AS w FROM tok WHERE tok != ''
), agg AS (
  SELECT d.doc_id, COALESCE(SUM(w), 0) AS total
  FROM documents d LEFT JOIN weighted USING (doc_id)
  GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(total AS DOUBLE) / 1000.0 AS margin,
       total > 0 AS keep
FROM agg
"""


# --------------------------------------------------------------------------
# PII detection / redaction. The synthetic corpus carries no PII, so the
# query manufactures a deterministic PII-bearing text from customer columns
# (same construction in both engines) and scrubs it — counts per kind plus
# the redacted text. Patterns live in operators.text.PII_PATTERNS and are
# restricted to the Java-regex ∩ RE2 syntax subset so DuckDB applies the
# identical patterns (with the 'g' flag — DuckDB replaces first-match-only
# by default, Spark replaces all).


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    key = F.col("c_custkey")
    txt = F.concat(
        F.lit("reach "),
        F.col("c_name"),
        F.lit(" at user"),
        key.cast("string"),
        F.lit("@mail.example.org or +51-555-"),
        F.lpad((key % 10000).cast("string"), 4, "0"),
        F.lit(" ref "),
        F.lpad(key.cast("string"), 9, "0"),
    )
    counts = text.pii_counts(txt)
    return c.select(
        "c_custkey",
        *[v.alias(k) for k, v in counts.items()],
        text.pii_redact(txt).alias("redacted"),
    )


_SQL_PII_TEXT = (
    "'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)"
    " || '@mail.example.org or +51-555-'"
    " || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')"
    " || ' ref ' || lpad(CAST(c_custkey AS VARCHAR), 9, '0')"
)

_ORACLE_PII_SCRUB = f"""
WITH base AS (
  SELECT c_custkey, {_SQL_PII_TEXT} AS txt FROM customer
)
SELECT c_custkey,
       CAST(len(regexp_extract_all(txt, '{text.PII_PATTERNS[0][1]}')) AS INT) AS n_email,
       CAST(len(regexp_extract_all(txt, '{text.PII_PATTERNS[1][1]}')) AS INT) AS n_phone,
       CAST(len(regexp_extract_all(txt, '{text.PII_PATTERNS[2][1]}')) AS INT) AS n_idnum,
       regexp_replace(
         regexp_replace(
           regexp_replace(txt, '{text.PII_PATTERNS[0][1]}', '<EMAIL>', 'g'),
           '{text.PII_PATTERNS[1][1]}', '<PHONE>', 'g'),
         '{text.PII_PATTERNS[2][1]}', '<ID>', 'g') AS redacted
FROM base
"""


# --------------------------------------------------------------------------
# Data-quality expectations report: one row per check with its violation
# count over the TPC-H-ish universe (engine extension — the reference
# ASSUMES upstream uniqueness, SURVEY §7.3.3; this validates it).


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators import dq

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    p = t(spark, sf_dir, "part")
    return dq.dq_report(
        [
            # EVERY lineitem check (row-level + uniqueness + both FK
            # orphan counts) fuses into ONE scan of the fact table; the
            # parent sides only contribute broadcast key sets. Same for
            # orders. r12 shape: 4 lineitem scans + 3 orders scans.
            dq.fused_table_checks(
                l,
                "lineitem",
                row_checks=[
                    dq.not_null_cond(["l_orderkey", "l_partkey"]),
                    dq.range_cond("l_discount", 0.0, 0.5),
                    dq.range_cond("l_quantity", 1.0, 50.0),
                ],
                unique_keys=["l_orderkey", "l_linenumber"],
                refs=[
                    (
                        "l_orderkey",
                        o.select("o_orderkey"),
                        "ref(l_orderkey->o_orderkey)",
                    ),
                    ("l_partkey", p.select("p_partkey"), "ref(l_partkey->p_partkey)"),
                ],
            ),
            dq.fused_table_checks(
                o,
                "orders",
                row_checks=[
                    dq.accepted_values_cond("o_orderstatus", ["O", "F", "P"])
                ],
                unique_keys=["o_orderkey"],
                refs=[
                    ("o_custkey", c.select("c_custkey"), "ref(o_custkey->c_custkey)")
                ],
            ),
        ]
    )


_ORACLE_DQ_REPORT = """
SELECT 'not_null(l_orderkey,l_partkey)' AS check, 'lineitem' AS table_name,
       CAST(COUNT(CASE WHEN l_orderkey IS NULL OR l_partkey IS NULL THEN 1 END) AS BIGINT) AS violations
FROM lineitem
UNION ALL
SELECT 'unique(l_orderkey,l_linenumber)', 'lineitem',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber)
UNION ALL
SELECT 'unique(o_orderkey)', 'orders', CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'ref(l_orderkey->o_orderkey)', 'lineitem', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_orderkey IS NOT NULL
  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'ref(o_custkey->c_custkey)', 'orders', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_custkey IS NOT NULL
  AND o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'ref(l_partkey->p_partkey)', 'lineitem', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_partkey IS NOT NULL
  AND l_partkey NOT IN (SELECT p_partkey FROM part)
UNION ALL
SELECT 'accepted_values(o_orderstatus)', 'orders',
       CAST(COUNT(CASE WHEN o_orderstatus NOT IN ('O','F','P') OR o_orderstatus IS NULL THEN 1 END) AS BIGINT)
FROM orders
UNION ALL
SELECT 'range(l_discount)', 'lineitem',
       CAST(COUNT(CASE WHEN l_discount IS NOT NULL AND (l_discount < 0.0 OR l_discount > 0.5) THEN 1 END) AS BIGINT)
FROM lineitem
UNION ALL
SELECT 'range(l_quantity)', 'lineitem',
       CAST(COUNT(CASE WHEN l_quantity IS NOT NULL AND (l_quantity < 1.0 OR l_quantity > 50.0) THEN 1 END) AS BIGINT)
FROM lineitem
"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document exact dedup (CCNet/RefinedWeb line-dedup stage): keep
    the globally first occurrence of each 10-word chunk, reassemble each
    document from its surviving chunks."""
    d = t(spark, sf_dir, "documents")
    return dedup.paragraph_dedup(d, "text", "doc_id", chunk_words=10)


_ORACLE_DEDUP_PARAGRAPHS = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), chunks AS (
  SELECT doc_id, CAST(i AS INT) AS idx,
         array_to_string(w[CAST(i AS INT) * 10 + 1 : CAST(i AS INT) * 10 + 10], ' ') AS chunk,
         CAST(ceil(len(w) / 10.0) AS BIGINT) AS n_chunks
  FROM toks, UNNEST(range(0, CAST(ceil(len(w) / 10.0) AS INT))) AS u(i)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) AS rn
  FROM chunks
)
SELECT doc_id,
       string_agg(chunk, ' ' ORDER BY idx) AS clean_text,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       CAST(any_value(n_chunks) - COUNT(*) AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Container-level media queries: a deterministic MP4/MP3 corpus is BUILT
# from the documents' text bytes (operators._mp4.build_mp4 /
# operators._mp3.build_mp3 — spec-valid containers), then parsed back
# through the REAL container operators (no fake mode): probe routes on the
# box tree / frame walk, keyframe extraction pulls raw sample byte ranges.
# Every parsed field is closed-form in the text length, so DuckDB
# recomputes the expected outputs without parsing anything.


def _mp4_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → one spec-valid single-track MP4 per doc: 1+(len%7)
    eight-byte samples sliced from the text (stride 1, space-padded),
    16+(len%64) × 16+(len%48) avc1 track, keyframe every 3rd sample."""
    import pandas as pd

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )

    def build(batches):
        from ..operators import _mp4

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf["media_id"], pdf["text"]):
                s = str(txt)
                n = len(s)
                padded = s + " " * 16
                samples = [
                    padded[i : i + 8].encode() for i in range(1 + n % 7)
                ]
                rows.append(
                    (
                        int(mid),
                        _mp4.build_mp4(
                            samples,
                            width=16 + n % 64,
                            height=16 + n % 48,
                            codec=b"avc1",
                            sync_every=3,
                        ),
                    )
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return d.mapInPandas(build, schema="media_id long, payload binary")


def q_multimodal_mp4_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-BMFF metadata probe (the route-before-decode pass): box-tree
    parse of the built corpus, integer fields only so the row set hashes
    identically on both engines."""
    probe = multimodal.container_probe(_mp4_corpus(spark, sf_dir))
    return probe.select(
        "media_id",
        "container",
        "codec",
        "width",
        "height",
        "n_frames",
        "n_sync_frames",
        "duration_ms",
    )


_ORACLE_MP4_PROBE = """
SELECT doc_id AS media_id, 'mp4' AS container, 'avc1' AS codec,
       CAST(16 + length(text) % 64 AS INT) AS width,
       CAST(16 + length(text) % 48 AS INT) AS height,
       CAST(1 + length(text) % 7 AS BIGINT) AS n_frames,
       CAST((1 + length(text) % 7 + 2) // 3 AS BIGINT) AS n_sync_frames,
       CAST((1 + length(text) % 7) * 40 AS BIGINT) AS duration_ms
FROM documents
"""


def q_multimodal_mp4_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-level keyframe extraction: sync samples (stss) pulled as
    raw byte ranges from mdat; the samples are ASCII text slices, so the
    frame BYTES themselves are oracle-comparable as strings."""
    kf = multimodal.keyframe_extract(_mp4_corpus(spark, sf_dir))
    return kf.select(
        "media_id",
        "frame_idx",
        "pts_ms",
        F.decode(F.col("frame"), "utf-8").alias("frame_txt"),
    )


_ORACLE_MP4_KEYFRAMES = """
WITH d AS (
  SELECT doc_id AS media_id, text, 1 + length(text) % 7 AS ns FROM documents
)
SELECT media_id, CAST(i AS INT) AS frame_idx, CAST(i * 40 AS BIGINT) AS pts_ms,
       substr(text || repeat(' ', 16), CAST(i AS INT) + 1, 8) AS frame_txt
FROM d, UNNEST(range(0, ns, 3)) AS u(i)
"""


def q_multimodal_mp3_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio frame-walk probe over a built CBR corpus: 4+(len%9)
    MPEG-1 Layer III frames at 44100 Hz — frame count, rate, channel
    count, and exact PCM sample total, all integers."""
    import pandas as pd

    d = t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"), "text"
    )

    def build(batches):
        from ..operators import _mp3

        for pdf in batches:
            rows = []
            for mid, txt in zip(pdf["media_id"], pdf["text"]):
                n = len(str(txt))
                rows.append(
                    (int(mid), _mp3.build_mp3(4 + n % 9, id3v2_bytes=n % 32))
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    corpus = d.mapInPandas(build, schema="media_id long, payload binary")
    probe = multimodal.container_probe(corpus)
    return probe.select(
        "media_id",
        "container",
        "codec",
        "sample_rate",
        "channels",
        "n_frames",
        (F.col("n_frames") * 1152).cast("long").alias("total_pcm_samples"),
    )


_ORACLE_MP3_PROBE = """
SELECT doc_id AS media_id, 'mp3' AS container, 'mpeg1-layer3' AS codec,
       CAST(44100 AS INT) AS sample_rate, CAST(2 AS INT) AS channels,
       CAST(4 + length(text) % 9 AS BIGINT) AS n_frames,
       CAST((4 + length(text) % 9) * 1152 AS BIGINT) AS total_pcm_samples
FROM documents
"""


def q_multimodal_mp3_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MPEG-1 Layer III PCM decode (pure-numpy `_mp3l3` pipeline:
    side info → Huffman → requantize → IMDCT → polyphase synthesis) over
    a built sine-tone corpus. Each doc's tone line is 17 + (len%40)·5 —
    ≡ 2 (mod 5), so the measured dominant spectral line (accurate to ±1
    line) buckets deterministically by //5 and DuckDB recomputes the
    bucket closed-form. A 1-in-5 doc sample keeps the decode stage
    O(|documents|/5) — the corpus-scale pattern is sample-then-decode,
    never decode-everything."""
    import pandas as pd

    d = (
        t(spark, sf_dir, "documents")
        .where(F.col("doc_id") % 5 == 0)
        .select(F.col("doc_id").alias("media_id"), F.length("text").alias("n"))
    )

    def run(batches):
        import numpy as np

        from ..operators import _mp3l3

        for pdf in batches:
            rows = []
            for mid, n in zip(pdf["media_id"], pdf["n"]):
                n = int(n)
                line = 17 + (n % 40) * 5
                payload = _mp3l3.build_mp3_l3(
                    n_frames=2 + n % 3, tone_line=line, global_gain=205
                )
                pcm, rate = _mp3l3.decode_mp3(payload)
                body = pcm[1152:]
                spec = np.abs(np.fft.rfft(body * np.hanning(len(body))))
                peak = int(spec.argmax())
                meas_line = peak * 1152.0 / len(body) - 0.5
                rows.append(
                    (
                        int(mid),
                        len(pcm),
                        rate,
                        int(round(meas_line)) // 5,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "sample_rate", "tone_bucket"],
            )

    return d.mapInPandas(
        run,
        schema="media_id long, n_samples long, sample_rate int, tone_bucket int",
    )


_ORACLE_MP3_DECODE = """
SELECT doc_id AS media_id,
       CAST((2 + length(text) % 3) * 1152 AS BIGINT) AS n_samples,
       CAST(44100 AS INT) AS sample_rate,
       CAST(3 + length(text) % 40 AS INT) AS tone_bucket
FROM documents WHERE doc_id % 5 = 0
"""


def q_sql_txlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL SERVING over a TXLOG table: a transactional table (built once
    per corpus, then a row-level DELETE committed on it) is registered in
    the session catalog under a layer database and aggregated by NAME
    with pure ``spark.sql`` — the full Athena-twin path for the engine's
    own table format. The registration is read-optimized: the current
    snapshot is served as a native parquet catalog table over a symlink
    manifest of its live files (`core/sql_serving`), so the read plans as
    a ``FileScan parquet`` that reflects the delete; the oracle replays
    the same subset + delete predicate on the raw parquet. Build-once
    fixture keyed by corpus content (`plans/common.corpus_fixture`)."""
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_delete, tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 7 == 0).select(
                "doc_id", "lang", "source", "n_chars"
            ),
            tmp,
        )
        # a committed row-level DELETE the SQL read must reflect
        tx_delete(spark, tmp, where={"lang": ("de", "de")})

    path = corpus_fixture(sf_dir, "documents", "txdocs", "txdocs|v1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_tx", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM {db}.documents_tx
        GROUP BY lang, source
    """)


def q_sql_generated_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GENERATED-COLUMN PARTITION LAYOUT BY NAME (SURVEY §4a on the SQL
    face): a period-partitioned table whose partition column is
    ``p GENERATED ALWAYS AS date_format(od, 'yyyyMM')`` is queried with
    a WHERE on the BASE date column only. The registration is
    read-optimized, so Spark plans a native ``FileScan parquet`` over the
    symlink manifest, and that face does NOT derive ``p`` bounds from the
    base-column predicate: the scan has no partition filter and lists
    every month partition. The derivation (`txlog._derive_generated_hints`,
    ``p ∈ [f(lo), f(hi)]`` for a monotone format) prunes to the three
    matching months only on ``tx_read``, the Python Data Source reader
    and routed DML (file counts asserted in
    `tests/test_generated_pruning.py`). Results are oracle-matched either
    way, because pruning is advisory. Build-once fixture keyed by the
    orders corpus (`plans/common.corpus_fixture`)."""
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_add_generated_column, tx_write

    def build(tmp: str) -> None:
        o = t(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 4 == 0)
        df = o.select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("od"),
            "o_orderpriority",
        ).withColumn("p", F.date_format("od", "yyyyMM"))
        tx_write(spark, df, tmp, partition_by=["p"], stats_for=["o_orderkey"])
        tx_add_generated_column(spark, tmp, "p", "date_format(od, 'yyyyMM')")

    path = corpus_fixture(sf_dir, "orders", "txgp", "txgpv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "orders_gp", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT p AS period,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
               CAST(MAX(o_orderkey) AS BIGINT) AS max_key
        FROM {db}.orders_gp
        WHERE od BETWEEN date'1995-02-01' AND date'1995-04-30'
        GROUP BY p
    """)


_ORACLE_SQL_GENERATED_PRUNING = """
SELECT strftime(CAST(o_orderdate AS DATE), '%Y%m') AS period,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
FROM orders
WHERE o_orderkey % 4 = 0
  AND CAST(o_orderdate AS DATE) BETWEEN DATE '1995-02-01'
                                    AND DATE '1995-04-30'
GROUP BY period
"""


def q_sql_pushdown_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-PUSHDOWN SQL lookup over a txlog table: the corpus subset
    is written range-clustered on ``doc_id`` (8 files with disjoint
    ranges, per-file min/max stats), registered by name, and queried
    with a pure ``spark.sql`` range predicate. The registration is
    read-optimized, so Spark plans a native ``FileScan parquet`` over the
    symlink manifest with ``doc_id`` in its PushedFilters: the scan lists
    all 8 files and skips by parquet footer statistics, not by the
    manifest's per-file stats (those prune on ``tx_read(where=…)`` and
    the Python Data Source's ``pushFilters``). The oracle recomputes the
    aggregate from the raw parquet; results must match exactly because
    pruning is advisory (Spark still filters row-level). Build-once
    fixture keyed by corpus content (`plans/common.corpus_fixture`)."""
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.select("doc_id", "lang", "n_chars")
            .repartitionByRange(8, "doc_id")
            .sortWithinPartitions("doc_id"),
            tmp,
            stats_for=["doc_id"],
        )

    path = corpus_fixture(sf_dir, "documents", "txpd", "txpd|v1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_pd", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_id
        FROM {db}.documents_pd
        WHERE doc_id BETWEEN 40 AND 260
        GROUP BY lang
    """)


_ORACLE_SQL_PUSHDOWN_LOOKUP = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM documents
WHERE doc_id BETWEEN 40 AND 260
GROUP BY lang
"""


def q_txlog_changes_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH CHANGE-FEED read over a txlog table (Delta's
    ``table_changes(t, start, end)`` twin, `streaming/source.py
    TxCdfBatchReader`): a transactional table is built once per corpus
    (subset write → row tracking → DELETE → append → UPDATE), then the
    change rows of the three DML commits are read as a plain DataFrame
    via ``read_txlog_changes(starting_version=…, row_keyed=True)`` and
    aggregated by (change type, lang). Row-keyed mode makes the feed
    EXACT — deletes carry only the deleted rows' pre-images, the update
    emits precisely its touched rows as pre/post pairs — so DuckDB can
    recompute every group closed-form from the raw corpus. The starting
    version is pinned in a sidecar meta file at build time (never
    inferred from the current version). Build-once fixture keyed by
    corpus content (`plans/common.corpus_fixture`)."""
    import json as _json
    import os

    from ..sources.txlog import (
        current_version,
        tx_delete,
        tx_enable_row_tracking,
        tx_update,
        tx_write,
    )
    from ..streaming.source import read_txlog_changes

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 7 == 0).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
        )
        tx_enable_row_tracking(spark, tmp)
        v_before_dml = current_version(spark, tmp)
        tx_delete(spark, tmp, where={"lang": ("de", "de")})
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 7 == 1).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
            mode="append",
        )
        tx_update(
            spark,
            tmp,
            where={"doc_id": (0, 500)},
            assignments={"n_chars": F.col("n_chars") + F.lit(1000)},
        )
        with open(os.path.join(tmp, "graft_query_meta.json"), "w") as fh:
            _json.dump({"v_start": v_before_dml + 1}, fh)

    path = corpus_fixture(sf_dir, "documents", "txchg", "txchanges|v1", build)
    with open(os.path.join(path, "graft_query_meta.json")) as fh:
        v_start = _json.load(fh)["v_start"]
    ch = read_txlog_changes(
        spark, path, starting_version=v_start, row_keyed=True
    )
    return ch.groupBy("_change_type", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


_ORACLE_TXLOG_CHANGES_BATCH = """
WITH base AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 = 0
), appended AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 7 = 1
), updated AS (
  SELECT * FROM (
    SELECT doc_id, lang, n_chars FROM base WHERE lang <> 'de'
    UNION ALL SELECT doc_id, lang, n_chars FROM appended
  ) WHERE doc_id <= 500
), changes AS (
  SELECT 'delete' AS _change_type, lang, n_chars
    FROM base WHERE lang = 'de'
  UNION ALL
  SELECT 'insert' AS _change_type, lang, n_chars FROM appended
  UNION ALL
  SELECT 'update_preimage' AS _change_type, lang, n_chars FROM updated
  UNION ALL
  SELECT 'update_postimage' AS _change_type, lang, n_chars + 1000
    FROM updated
)
SELECT _change_type, lang,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM changes GROUP BY _change_type, lang
"""


_ORACLE_SQL_TXLOG_SNAPSHOT = """
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id % 7 = 0 AND lang <> 'de'
GROUP BY lang, source
"""


def _corpus_tx_fixture(sf_dir: str, tag: str, build) -> str:
    """The build-once txlog fixture ``tag`` of the documents corpus:
    ``build(tmp_dir)`` constructs the table (writes + DML) and
    `plans/common.corpus_fixture` publishes it. Timed runs reuse a
    published fixture; a cold, build-inclusive run points ``TMPDIR`` at
    an empty dir."""
    return corpus_fixture(sf_dir, "documents", tag, tag, build)


def q_sql_txlog_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL DML PARITY BY TABLE NAME (`core/sql_dml.py`): the full
    write-statement surface a SQL-only consumer gets — ``DELETE``,
    ``UPDATE`` and ``MERGE INTO`` addressed at a registered catalog
    table and routed to the engine's transactional writers
    (`txlog.tx_delete/tx_update/tx_merge`), the face Delta gives the
    Athena persona of `stacks/cdk_datalake_analytics_stack.py:483-522`. The
    statements run ONCE at fixture build (point delete prunes by stats,
    the update's equality predicate is fully sargable, the merge
    upserts a transformed source — insert-after-delete included); the
    query then aggregates the final state by name. DuckDB replays the
    identical statement algebra closed-form on the raw corpus."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 7 == 0).select(
                "doc_id", "lang", "source", "n_chars"
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_dml_build", "t", tmp)
        sql_dml(spark, "DELETE FROM lake_dml_build.t WHERE lang = 'de'")
        sql_dml(
            spark,
            "UPDATE lake_dml_build.t SET n_chars = n_chars + 1000 "
            "WHERE source = 'src3' AND n_chars < 500",
        )
        d.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id",
            "lang",
            "source",
            (F.col("n_chars") % 100).alias("n_chars"),
        ).createOrReplaceTempView("graft_dml_merge_src")
        sql_dml(
            spark,
            """MERGE INTO lake_dml_build.t AS t
               USING (SELECT * FROM graft_dml_merge_src) AS s
               ON t.doc_id = s.doc_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""",
        )
        spark.sql("DROP TABLE IF EXISTS lake_dml_build.t")

    path = _corpus_tx_fixture(sf_dir, "txdmlv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_dml", path, read_optimized=True
    )
    return sql_dml(
        spark,
        f"""SELECT lang, source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                   CAST(MIN(doc_id) AS BIGINT) AS min_id
            FROM {db}.documents_dml
            GROUP BY lang, source""",
    )


_ORACLE_SQL_TXLOG_DML = """
WITH t1 AS (
  SELECT doc_id, lang, source, n_chars
  FROM documents WHERE doc_id % 7 = 0 AND lang <> 'de'
),
t2 AS (
  SELECT doc_id, lang, source,
         CASE WHEN source = 'src3' AND n_chars < 500
              THEN n_chars + 1000 ELSE n_chars END AS n_chars
  FROM t1
),
s AS (
  SELECT doc_id, lang, source, n_chars % 100 AS n_chars
  FROM documents WHERE doc_id % 3 = 0
),
fin AS (
  SELECT * FROM s
  UNION ALL
  SELECT * FROM t2 WHERE doc_id NOT IN (SELECT doc_id FROM s)
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang, source
"""


def q_sql_insert_overwrite_dynamic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """K1 (dynamic partition overwrite, the reference's signature write
    mode — `utils/common_jobs_functions.py:312`) reached FROM SQL:
    ``INSERT OVERWRITE TABLE db.t SELECT …`` on a hive-partitioned
    txlog table replaces ONLY the partitions present in the incoming
    rows, one atomic commit — here the ``lang='en'`` partition is
    rebuilt with doubled char counts for even doc ids while every other
    partition's files carry forward by reference (isolation asserted in
    `tests/test_sql_dml.py`). DuckDB recomputes the surviving state
    closed-form."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        # partition column LAST in the table schema — the hive-normalized
        # layout every SQL catalog serves (partition columns sort to the
        # schema tail), which also keeps the read-optimized native
        # registration eligible (core/sql_serving: non-tail partition
        # columns must fall back to the Python source)
        tx_write(
            spark,
            d.select("doc_id", "n_chars", "lang"),
            tmp,
            partition_by=["lang"],
        )
        register_txlog_table(spark, "lake_dyn_build", "t", tmp)
        d.createOrReplaceTempView("graft_dyn_src")
        sql_dml(
            spark,
            "INSERT OVERWRITE TABLE lake_dyn_build.t "
            "SELECT doc_id, n_chars * 2 AS n_chars, lang "
            "FROM graft_dyn_src WHERE lang = 'en' AND doc_id % 2 = 0",
        )
        spark.sql("DROP TABLE IF EXISTS lake_dyn_build.t")

    path = _corpus_tx_fixture(sf_dir, "txdynv2", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_dyn", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id,
               CAST(MAX(doc_id) AS BIGINT) AS max_id
        FROM {db}.documents_dyn
        GROUP BY lang
    """)


_ORACLE_SQL_INSERT_OVERWRITE_DYNAMIC = """
WITH fin AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE lang <> 'en'
  UNION ALL
  SELECT doc_id, lang, n_chars * 2 AS n_chars
  FROM documents WHERE lang = 'en' AND doc_id % 2 = 0
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_id
FROM fin GROUP BY lang
"""


def q_sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SQL-ONLY TABLE LIFECYCLE (`core/sql_dml.py`): a table that
    exists purely through SQL statements by name — ``CREATE TABLE …
    USING txlog PARTITIONED BY … AS SELECT`` (CTAS), ``ALTER TABLE ADD
    COLUMN`` (metadata-only: existing rows null-pad), then ``INSERT
    INTO`` populating the evolved schema — and is aggregated by name.
    No DataFrame writer API is ever touched; every step is the routed
    statement surface a catalog-only consumer (the reference's Athena
    persona) would use. DuckDB replays the lifecycle closed-form."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        d.createOrReplaceTempView("graft_ddl_src")
        sql_dml(
            spark,
            f"CREATE OR REPLACE TABLE lake_ddl_build.t USING txlog "
            f"LOCATION '{tmp}' PARTITIONED BY (lang) AS "
            "SELECT doc_id, lang, n_chars FROM graft_ddl_src "
            "WHERE doc_id % 4 = 0",
        )
        sql_dml(spark, "ALTER TABLE lake_ddl_build.t ADD COLUMN flag string")
        sql_dml(
            spark,
            "INSERT INTO lake_ddl_build.t "
            "SELECT doc_id, lang, n_chars, 'new' AS flag FROM graft_ddl_src "
            "WHERE doc_id % 4 = 1 AND lang = 'en'",
        )
        spark.sql("DROP TABLE IF EXISTS lake_ddl_build.t")

    path = _corpus_tx_fixture(sf_dir, "txddlv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_ddl", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(COUNT(flag) AS BIGINT) AS n_flagged
        FROM {db}.documents_ddl
        GROUP BY lang
    """)


_ORACLE_SQL_DDL_LIFECYCLE = """
WITH fin AS (
  SELECT doc_id, lang, n_chars, NULL AS flag
  FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id, lang, n_chars, 'new' AS flag
  FROM documents WHERE doc_id % 4 = 1 AND lang = 'en'
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(flag) AS BIGINT) AS n_flagged
FROM fin GROUP BY lang
"""


def q_sql_merge_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL / COLUMN-LEVEL MERGE BY NAME (`core/sql_dml.py`
    `_merge_general` → `txlog.tx_merge(clauses=…)`): Delta's general
    WHEN-clause surface — ``WHEN MATCHED AND <cond> THEN UPDATE SET col
    = expr``, ``WHEN MATCHED THEN DELETE``, ``WHEN NOT MATCHED AND
    <cond> THEN INSERT (cols) VALUES (exprs)`` — applied first-match per
    row, the whole merge ONE Catalyst plan (full-outer join + when
    chains, no per-row Python). The statement runs once at fixture
    build; the query aggregates the final state by name. DuckDB replays
    the clause algebra closed-form on the raw corpus."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 5 == 0).select(
                "doc_id", "lang", "source", "n_chars"
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_mc_build", "t", tmp)
        d.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "lang", (F.col("n_chars") % 700).alias("n_chars")
        ).createOrReplaceTempView("graft_mc_src")
        sql_dml(
            spark,
            """MERGE INTO lake_mc_build.t AS t
               USING (SELECT * FROM graft_mc_src) AS s
               ON t.doc_id = s.doc_id
               WHEN MATCHED AND s.n_chars > t.n_chars
                 THEN UPDATE SET n_chars = s.n_chars, source = 'upd'
               WHEN MATCHED AND t.lang = 'de' THEN DELETE
               WHEN NOT MATCHED AND s.lang = 'en'
                 THEN INSERT (doc_id, lang, source, n_chars)
                      VALUES (s.doc_id, s.lang, 'ins', s.n_chars)""",
        )
        spark.sql("DROP TABLE IF EXISTS lake_mc_build.t")

    path = _corpus_tx_fixture(sf_dir, "txmcv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_mc", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang, source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_mc
        GROUP BY lang, source
    """)


_ORACLE_SQL_MERGE_CONDITIONAL = """
WITH t0 AS (
  SELECT doc_id, lang, source, n_chars
  FROM documents WHERE doc_id % 5 = 0
),
s AS (
  SELECT doc_id, lang, n_chars % 700 AS n_chars
  FROM documents WHERE doc_id % 2 = 0
),
matched AS (
  SELECT t0.doc_id,
         t0.lang,
         CASE WHEN s.n_chars > t0.n_chars THEN 'upd'
              ELSE t0.source END AS source,
         CASE WHEN s.n_chars > t0.n_chars THEN s.n_chars
              ELSE t0.n_chars END AS n_chars,
         (NOT (s.n_chars > t0.n_chars)) AND t0.lang = 'de' AS deleted
  FROM t0 JOIN s ON t0.doc_id = s.doc_id
),
fin AS (
  SELECT doc_id, lang, source, n_chars FROM matched WHERE NOT deleted
  UNION ALL
  SELECT doc_id, lang, source, n_chars FROM t0
  WHERE doc_id NOT IN (SELECT doc_id FROM s)
  UNION ALL
  SELECT s.doc_id, s.lang, 'ins' AS source, s.n_chars FROM s
  WHERE s.lang = 'en' AND s.doc_id NOT IN (SELECT doc_id FROM t0)
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang, source
"""


def q_sql_merge_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``MERGE WITH SCHEMA EVOLUTION INTO`` BY NAME (`core/sql_dml.py`
    `_merge` → `txlog.tx_merge(schema_evolution=True)`): Delta's clause
    for drifting upstream schemas — the source carries a NEW column
    (``origin``) the table has never seen; the merge EXTENDS the table
    schema in the same atomic commit (existing rows null-pad) instead of
    refusing, and the re-registered catalog relation exposes it by name
    immediately. Matched rows take every source column (UPDATE SET *),
    unmatched source rows insert, unmatched target rows stay. DuckDB
    replays the union-schema algebra closed-form on the raw corpus."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 5 == 0).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_me_build", "t", tmp)
        d.filter(F.col("doc_id") % 3 == 0).select(
            "doc_id",
            "lang",
            (F.col("n_chars") % 911).alias("n_chars"),
            F.col("source").alias("origin"),
        ).createOrReplaceTempView("graft_me_src")
        sql_dml(
            spark,
            "MERGE WITH SCHEMA EVOLUTION INTO lake_me_build.t AS t "
            "USING graft_me_src AS s ON t.doc_id = s.doc_id "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        )
        spark.sql("DROP TABLE IF EXISTS lake_me_build.t")

    path = _corpus_tx_fixture(sf_dir, "txmev1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_me", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(COUNT(origin) AS BIGINT) AS n_origin,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_me
        GROUP BY lang
    """)


_ORACLE_SQL_MERGE_EVOLUTION = """
WITH t0 AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 5 = 0
),
s AS (
  SELECT doc_id, lang, n_chars % 911 AS n_chars, source AS origin
  FROM documents WHERE doc_id % 3 = 0
),
fin AS (
  SELECT doc_id, lang, n_chars, origin FROM s
  UNION ALL
  SELECT doc_id, lang, n_chars, NULL AS origin FROM t0
  WHERE doc_id NOT IN (SELECT doc_id FROM s)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(COUNT(origin) AS BIGINT) AS n_origin,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang
"""


def q_sql_copy_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``COPY INTO`` BY NAME (`core/sql_dml._copy_into` →
    `txlog.tx_copy_into`): idempotent bulk-file ingestion — a multi-file
    ``;``-delimited gzip-CSV drop (the reference's raw-layer shape,
    `load_with_query_python.py:288-294`) lands via ONE SQL statement,
    each source file EXACTLY ONCE across reruns: the statement runs
    TWICE at fixture build and the second run is a ledger no-op (no
    duplicate rows — that is the contract under test). CSV strings cast
    to the table's declared types by name. DuckDB replays the ingested
    subset closed-form from the raw corpus."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        import shutil

        d = t(spark, sf_dir, "documents")
        drop = f"{tmp}.copydrop"  # the staged source files, gone after
        try:
            (
                d.filter(F.col("doc_id") % 7 == 0)
                .select("doc_id", "lang", "n_chars")
                .repartition(3)
                .write.mode("overwrite")
                .options(header="true", sep=";", compression="gzip")
                .csv(drop)
            )
            tx_write(
                spark,
                spark.createDataFrame(
                    [], "doc_id bigint, lang string, n_chars bigint"
                ),
                tmp,
            )
            register_txlog_table(spark, "lake_ci_build", "t", tmp)
            stmt = (
                f"COPY INTO lake_ci_build.t FROM '{drop}' FILEFORMAT = CSV "
                "PATTERN = '*.csv.gz' "
                "FORMAT_OPTIONS ('header' = 'true', 'sep' = ';')"
            )
            v1 = sql_dml(spark, stmt)
            v2 = sql_dml(spark, stmt)  # rerun: MUST be the ledger no-op
            if v2 != v1:
                raise AssertionError(
                    f"COPY INTO rerun was not idempotent: v{v1} -> v{v2}"
                )
            spark.sql("DROP TABLE IF EXISTS lake_ci_build.t")
        finally:
            shutil.rmtree(drop, ignore_errors=True)

    path = _corpus_tx_fixture(sf_dir, "txciv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_ci", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_ci
        GROUP BY lang
    """)


_ORACLE_SQL_COPY_INTO = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM documents WHERE doc_id % 7 = 0
GROUP BY lang
"""


def q_sql_widening_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TYPE-WIDENING LIFECYCLE BY NAME (`core/sql_dml` ``ALTER COLUMN …
    TYPE`` → `txlog.tx_widen_column`): an INT column is widened to
    BIGINT as a METADATA-ONLY commit (zero files moved), then an INSERT
    lands values beyond int32 range — the narrow pre-widening files cast
    at scan time, the new file is physically wide, and one aggregate
    reads both generations. DuckDB replays the widened algebra
    closed-form on the raw corpus."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 6 == 0).select(
                "doc_id",
                "lang",
                (F.col("n_chars") % 1000).cast("int").alias("score"),
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_wl_build", "t", tmp)
        d.createOrReplaceTempView("graft_wl_src")
        sql_dml(
            spark,
            "ALTER TABLE lake_wl_build.t ALTER COLUMN score TYPE BIGINT",
        )
        sql_dml(
            spark,
            "INSERT INTO lake_wl_build.t "
            "SELECT doc_id, lang, CAST(n_chars AS BIGINT) + 3000000000 "
            "AS score FROM graft_wl_src WHERE doc_id % 6 = 3",
        )
        spark.sql("DROP TABLE IF EXISTS lake_wl_build.t")

    path = _corpus_tx_fixture(sf_dir, "txwlv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_wl", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(score) AS BIGINT) AS sum_score,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_wl
        GROUP BY lang
    """)


_ORACLE_SQL_WIDENING_LIFECYCLE = """
WITH fin AS (
  SELECT doc_id, lang, CAST(n_chars % 1000 AS BIGINT) AS score
  FROM documents WHERE doc_id % 6 = 0
  UNION ALL
  SELECT doc_id, lang, CAST(n_chars AS BIGINT) + 3000000000 AS score
  FROM documents WHERE doc_id % 6 = 3
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(score) AS BIGINT) AS sum_score,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang
"""


def q_sql_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``INSERT INTO t REPLACE WHERE <pred> SELECT …`` — Delta's
    replaceWhere (`core/sql_dml.py` `_insert_replace_where` →
    `txlog.tx_replace_where`): ONE atomic commit deletes the predicate's
    rows and lands the query's rows (all validated to satisfy the
    predicate). The arbitrary-predicate overwrite — dynamic partition
    overwrite generalized beyond partition boundaries; file pruning is
    the DELETE's (stats-pruned rewrite, everything else carried by
    reference). DuckDB replays the region swap closed-form."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 4 == 0).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_rw_build", "t", tmp)
        d.createOrReplaceTempView("graft_rw_src")
        # replace the de-language region with recomputed rows from a
        # DIFFERENT doc population (doc_id % 4 = 2) — the swap is only
        # expressible atomically via replaceWhere
        sql_dml(
            spark,
            "INSERT INTO lake_rw_build.t REPLACE WHERE lang = 'de' "
            "SELECT doc_id, lang, n_chars * 3 AS n_chars "
            "FROM graft_rw_src WHERE lang = 'de' AND doc_id % 4 = 2",
        )
        spark.sql("DROP TABLE IF EXISTS lake_rw_build.t")

    path = _corpus_tx_fixture(sf_dir, "txrwv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_rw", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_rw
        GROUP BY lang
    """)


_ORACLE_SQL_REPLACE_WHERE = """
WITH fin AS (
  SELECT doc_id, lang, n_chars
  FROM documents WHERE doc_id % 4 = 0 AND lang <> 'de'
  UNION ALL
  SELECT doc_id, lang, n_chars * 3 AS n_chars
  FROM documents WHERE lang = 'de' AND doc_id % 4 = 2
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang
"""


def q_sql_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``CONVERT TO TXLOG parquet.`/path`` (Delta's CONVERT TO DELTA,
    `txlog.tx_convert` via `core/sql_dml.py`): an EXISTING hive-
    partitioned parquet directory becomes a txlog table IN PLACE —
    metadata-only, v1 references the files where they sit, rows from
    footers, zero bytes moved (the conversion cost of a petabyte dir is
    one listing + footer reads). The fixture then runs a normal routed
    DELETE on the converted table to prove the whole write surface
    works over converted entries; the query aggregates by name. DuckDB
    replays filter+delete closed-form."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_convert

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        # a plain (non-txlog) hive-partitioned parquet dir...
        d.filter(F.col("doc_id") % 6 == 0).select(
            "doc_id", "n_chars", "lang"
        ).write.partitionBy("lang").parquet(tmp, mode="overwrite")
        # ...converted in place, then served + mutated by name
        tx_convert(spark, tmp, partition_by=["lang"],
                   partition_types={"lang": "string"})
        register_txlog_table(spark, "lake_conv_build", "t", tmp)
        sql_dml(
            spark,
            "DELETE FROM lake_conv_build.t WHERE n_chars < 200",
        )
        spark.sql("DROP TABLE IF EXISTS lake_conv_build.t")

    path = _corpus_tx_fixture(sf_dir, "txconvv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_conv", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_conv
        GROUP BY lang
    """)


_ORACLE_SQL_CONVERT_IN_PLACE = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM documents
WHERE doc_id % 6 = 0 AND n_chars >= 200
GROUP BY lang
"""


def q_sql_delete_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DELETE FROM t WHERE EXISTS (SELECT … WHERE t.k = s.k AND …)``
    (`core/sql_dml._exists_keys`): the correlated-equality EXISTS shape
    routes onto the same two-tier IN machinery — the
    statement here also carries an OUTER residual conjunct that must
    keep applying after the rewrite. DuckDB replays the EXISTS delete
    natively (no rewrite), so a rewrite bug cannot hide."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 4 == 1).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_dex_build", "t", tmp)
        d.createOrReplaceTempView("graft_dex_src")
        sql_dml(
            spark,
            "DELETE FROM lake_dex_build.t WHERE EXISTS "
            "(SELECT 1 FROM graft_dex_src s "
            "WHERE t.doc_id = s.doc_id AND s.lang = 'en') "
            "AND n_chars >= 500",
        )
        spark.sql("DROP TABLE IF EXISTS lake_dex_build.t")

    path = _corpus_tx_fixture(sf_dir, "txdexv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_dex", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_dex
        GROUP BY lang
    """)


_ORACLE_SQL_DELETE_EXISTS = """
WITH fin AS (
  SELECT doc_id, lang, n_chars
  FROM documents t
  WHERE doc_id % 4 = 1
    AND NOT (
      EXISTS (SELECT 1 FROM documents s
              WHERE t.doc_id = s.doc_id AND s.lang = 'en')
      AND n_chars >= 500
    )
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang
"""


def q_sql_delete_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``DELETE FROM t WHERE k IN (SELECT …) AND <residual>`` — the GDPR
    bulk-delete-by-list shape (`core/sql_dml.py` `_dml_by_subquery`).
    Two-tier by construction: a small key set inlines to a literal
    IN-list and stays FILE-PRUNED (range stats + Bloom); a large one
    routes as a distributed merge-delete (hash semi-join). Both tiers
    produce identical state, so the oracle holds at every scale factor
    regardless of which tier fired. DuckDB replays the delete
    closed-form."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 3 == 0).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
            stats_for=["doc_id"],
        )
        register_txlog_table(spark, "lake_dsq_build", "t", tmp)
        d.createOrReplaceTempView("graft_dsq_src")
        sql_dml(
            spark,
            "DELETE FROM lake_dsq_build.t WHERE doc_id IN "
            "(SELECT doc_id FROM graft_dsq_src WHERE lang = 'de') "
            "AND n_chars < 2000",
        )
        spark.sql("DROP TABLE IF EXISTS lake_dsq_build.t")

    path = _corpus_tx_fixture(sf_dir, "txdsqv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_dsq", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
               CAST(MIN(doc_id) AS BIGINT) AS min_id
        FROM {db}.documents_dsq
        GROUP BY lang
    """)


_ORACLE_SQL_DELETE_IN_SUBQUERY = """
WITH fin AS (
  SELECT doc_id, lang, n_chars
  FROM documents
  WHERE doc_id % 3 = 0
    AND NOT (
      doc_id IN (SELECT doc_id FROM documents WHERE lang = 'de')
      AND n_chars < 2000
    )
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_id
FROM fin GROUP BY lang
"""


def q_sql_zorder_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE … ZORDER BY from SQL, then a 2-column range lookup by
    name: the fixture writes the corpus subset INTERLEAVED (hash-bucketed
    by a surrogate, so every file initially spans both columns' full
    ranges — the shape incremental appends produce), runs
    ``OPTIMIZE … ZORDER BY (doc_id, n_chars)`` through the statement
    router (`core/sql_dml.py` → `tx_compact` Morton clustering), and the
    query's conjunctive WHERE then prunes files on BOTH columns through
    `TxLogBatchReader.pushFilters` (file-count assertion in
    `tests/test_sql_dml.py`; at 100 TB this is the difference between a
    2-D range probe opening ~1 file and opening all of them). Results
    hash-match DuckDB because pruning is advisory."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.select("doc_id", "lang", "n_chars").repartition(
                8, (F.col("doc_id") * 2654435761) % 97
            ),
            tmp,
            stats_for=["doc_id", "n_chars"],
        )
        register_txlog_table(spark, "lake_z_build", "t", tmp)
        sql_dml(
            spark, "OPTIMIZE lake_z_build.t ZORDER BY (doc_id, n_chars)"
        )
        spark.sql("DROP TABLE IF EXISTS lake_z_build.t")

    path = _corpus_tx_fixture(sf_dir, "txzv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_z", path, read_optimized=True
    )
    return spark.sql(f"""
        SELECT lang,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM {db}.documents_z
        WHERE doc_id BETWEEN 100 AND 300 AND n_chars BETWEEN 50 AND 400
        GROUP BY lang
    """)


_ORACLE_SQL_ZORDER_PRUNING = """
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
WHERE doc_id BETWEEN 100 AND 300 AND n_chars BETWEEN 50 AND 400
GROUP BY lang
"""


def q_sql_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL THROUGH THE SQL CATALOG (`core/sql_dml.py`
    ``VERSION AS OF`` rewrite + `sql_serving.register_txlog_table`
    version pinning): the fixture commits a snapshot (v1) then a
    row-level DELETE (v2); one statement reads the FROZEN v1 twin and
    the live table side by side — Delta's ``SELECT … FROM t VERSION AS
    OF`` — proving a later delete never leaks into the pinned read.
    DuckDB recomputes both states from the raw corpus."""
    from ..core.sql_dml import sql_dml
    from ..core.sql_serving import register_txlog_table
    from ..sources.txlog import tx_delete, tx_write

    def build(tmp: str) -> None:
        d = t(spark, sf_dir, "documents")
        tx_write(
            spark,
            d.filter(F.col("doc_id") % 5 == 0).select(
                "doc_id", "lang", "n_chars"
            ),
            tmp,
        )
        tx_delete(spark, tmp, where={"lang": ("en", "en")})

    path = _corpus_tx_fixture(sf_dir, "txttv1", build)
    db = lake_db(sf_dir)
    register_txlog_table(
        spark, db, "documents_tt", path, read_optimized=True
    )
    return sql_dml(
        spark,
        f"""SELECT v1.lang,
                   v1.n_v1,
                   v1.sum_v1,
                   CAST(COALESCE(live.n_live, 0) AS BIGINT) AS n_live
            FROM (
              SELECT lang,
                     CAST(COUNT(*) AS BIGINT) AS n_v1,
                     CAST(SUM(n_chars) AS BIGINT) AS sum_v1
              FROM {db}.documents_tt VERSION AS OF 1
              GROUP BY lang
            ) v1
            LEFT JOIN (
              SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_live
              FROM {db}.documents_tt
              GROUP BY lang
            ) live ON v1.lang = live.lang""",
    )


_ORACLE_SQL_TIME_TRAVEL = """
WITH v1 AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_v1,
         CAST(SUM(n_chars) AS BIGINT) AS sum_v1
  FROM documents WHERE doc_id % 5 = 0 GROUP BY lang
),
live AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_live
  FROM documents WHERE doc_id % 5 = 0 AND lang <> 'en' GROUP BY lang
)
SELECT v1.lang, v1.n_v1, v1.sum_v1,
       CAST(COALESCE(live.n_live, 0) AS BIGINT) AS n_live
FROM v1 LEFT JOIN live ON v1.lang = live.lang
"""


QUERIES = {
    "sql_txlog_snapshot": q_sql_txlog_snapshot,
    "sql_txlog_dml": q_sql_txlog_dml,
    "sql_insert_overwrite_dynamic": q_sql_insert_overwrite_dynamic,
    "sql_time_travel": q_sql_time_travel,
    "sql_ddl_lifecycle": q_sql_ddl_lifecycle,
    "sql_merge_conditional": q_sql_merge_conditional,
    "sql_merge_evolution": q_sql_merge_evolution,
    "sql_copy_into": q_sql_copy_into,
    "sql_generated_pruning": q_sql_generated_pruning,
    "sql_widening_lifecycle": q_sql_widening_lifecycle,
    "sql_replace_where": q_sql_replace_where,
    "sql_convert_in_place": q_sql_convert_in_place,
    "sql_delete_exists": q_sql_delete_exists,
    "sql_delete_in_subquery": q_sql_delete_in_subquery,
    "sql_zorder_pruning": q_sql_zorder_pruning,
    "sql_pushdown_lookup": q_sql_pushdown_lookup,
    "txlog_changes_batch": q_txlog_changes_batch,
    "text_token_stats": q_text_token_stats,
    "text_quality": q_text_quality,
    "text_lang_id": q_text_lang_id,
    "text_fingerprint": q_text_fingerprint,
    "dedup_exact": q_dedup_exact,
    "dedup_paragraphs": q_dedup_paragraphs,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_clusters": q_dedup_clusters,
    "dedup_canonical": q_dedup_canonical,
    "doc_quantiles": q_doc_quantiles,
    "stratified_sample": q_stratified_sample,
    "stratified_fixed_k": q_stratified_fixed_k,
    "text_repetition": q_text_repetition,
    "doc_pack": q_doc_pack,
    "doc_chunks": q_doc_chunks,
    "corpus_filter": q_corpus_filter,
    "corpus_mix": q_corpus_mix,
    "corpus_shuffle": q_corpus_shuffle,
    "length_bucket_batches": q_length_bucket_batches,
    "temperature_mix": q_temperature_mix,
    "importance_sample": q_importance_sample,
    "corpus_resample": q_corpus_resample,
    "doc_length_histogram": q_doc_length_histogram,
    "decontam_overlap": q_decontam_overlap,
    "vocab_topk": q_vocab_topk,
    "tfidf_keywords": q_tfidf_keywords,
    "doc_rarity": q_doc_rarity,
    "quality_classifier": q_quality_classifier,
    "pii_scrub": q_pii_scrub,
    "dq_report": q_dq_report,
    "dedup_minhash": q_dedup_minhash,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_probe": q_dedup_incremental_probe,
    "dedup_simhash_pairs": q_dedup_simhash_pairs,
    "emb_cosine_topk": q_emb_cosine_topk,
    "emb_near_dup": q_emb_near_dup,
    "emb_clusters": q_emb_clusters,
    "emb_lsh_topk": q_emb_lsh_topk,
    "emb_lsh_multitable": q_emb_lsh_multitable,
    "emb_ivf_topk": q_emb_ivf_topk,
    "emb_ivf_multiprobe": q_emb_ivf_multiprobe,
    "emb_pq_topk": q_emb_pq_topk,
    "emb_rerank_topk": q_emb_rerank_topk,
    "emb_ivfpq_topk": q_emb_ivfpq_topk,
    "emb_ivfpq_residual_topk": q_emb_ivfpq_residual_topk,
    "emb_ivfpq_search_index": q_emb_ivfpq_search_index,
    "multimodal_features": q_multimodal_features,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
    "multimodal_mp4_probe": q_multimodal_mp4_probe,
    "multimodal_mp4_keyframes": q_multimodal_mp4_keyframes,
    "multimodal_mp3_probe": q_multimodal_mp3_probe,
    "multimodal_mp3_decode": q_multimodal_mp3_decode,
}

ORACLES = {
    "sql_txlog_snapshot": _ORACLE_SQL_TXLOG_SNAPSHOT,
    "sql_txlog_dml": _ORACLE_SQL_TXLOG_DML,
    "sql_insert_overwrite_dynamic": _ORACLE_SQL_INSERT_OVERWRITE_DYNAMIC,
    "sql_time_travel": _ORACLE_SQL_TIME_TRAVEL,
    "sql_ddl_lifecycle": _ORACLE_SQL_DDL_LIFECYCLE,
    "sql_merge_conditional": _ORACLE_SQL_MERGE_CONDITIONAL,
    "sql_merge_evolution": _ORACLE_SQL_MERGE_EVOLUTION,
    "sql_copy_into": _ORACLE_SQL_COPY_INTO,
    "sql_generated_pruning": _ORACLE_SQL_GENERATED_PRUNING,
    "sql_widening_lifecycle": _ORACLE_SQL_WIDENING_LIFECYCLE,
    "sql_replace_where": _ORACLE_SQL_REPLACE_WHERE,
    "sql_convert_in_place": _ORACLE_SQL_CONVERT_IN_PLACE,
    "sql_delete_exists": _ORACLE_SQL_DELETE_EXISTS,
    "sql_delete_in_subquery": _ORACLE_SQL_DELETE_IN_SUBQUERY,
    "sql_zorder_pruning": _ORACLE_SQL_ZORDER_PRUNING,
    "sql_pushdown_lookup": _ORACLE_SQL_PUSHDOWN_LOOKUP,
    "txlog_changes_batch": _ORACLE_TXLOG_CHANGES_BATCH,
    "text_token_stats": _ORACLE_TOKEN_STATS,
    "text_quality": _ORACLE_QUALITY,
    "text_lang_id": _ORACLE_LANG_ID,
    "text_fingerprint": _ORACLE_FINGERPRINT,
    "dedup_exact": _ORACLE_DEDUP_EXACT,
    "dedup_paragraphs": _ORACLE_DEDUP_PARAGRAPHS,
    "dedup_ngram_jaccard": _ORACLE_NGRAM_JACCARD,
    "dedup_clusters": _ORACLE_DEDUP_CLUSTERS,
    "dedup_canonical": _ORACLE_DEDUP_CANONICAL,
    "doc_quantiles": _ORACLE_DOC_QUANTILES,
    "stratified_sample": _ORACLE_STRATIFIED_SAMPLE,
    "stratified_fixed_k": _ORACLE_STRATIFIED_FIXED_K,
    "text_repetition": _ORACLE_TEXT_REPETITION,
    "doc_pack": _ORACLE_DOC_PACK,
    "doc_chunks": _ORACLE_DOC_CHUNKS,
    "corpus_filter": _ORACLE_CORPUS_FILTER,
    "corpus_mix": _ORACLE_CORPUS_MIX,
    "corpus_shuffle": _ORACLE_CORPUS_SHUFFLE,
    "length_bucket_batches": _ORACLE_LENGTH_BUCKETS,
    "temperature_mix": _ORACLE_TEMPERATURE_MIX,
    "importance_sample": _ORACLE_IMPORTANCE_SAMPLE,
    "corpus_resample": _ORACLE_CORPUS_RESAMPLE,
    "doc_length_histogram": _ORACLE_DOC_LENGTH_HISTOGRAM,
    "decontam_overlap": _ORACLE_DECONTAM_OVERLAP,
    "vocab_topk": _ORACLE_VOCAB_TOPK,
    "tfidf_keywords": _ORACLE_TFIDF_KEYWORDS,
    "doc_rarity": _ORACLE_DOC_RARITY,
    "quality_classifier": _ORACLE_QUALITY_CLASSIFIER,
    "pii_scrub": _ORACLE_PII_SCRUB,
    "dq_report": _ORACLE_DQ_REPORT,
    "emb_cosine_topk": _ORACLE_COSINE_TOPK,
    "emb_near_dup": _ORACLE_EMB_NEAR_DUP,
    "emb_clusters": _ORACLE_EMB_CLUSTERS,
    "multimodal_features": _ORACLE_MULTIMODAL,
    "multimodal_audio": _ORACLE_MULTIMODAL_AUDIO,
    "multimodal_frames": _ORACLE_MULTIMODAL_FRAMES,
    "multimodal_resize": _ORACLE_MULTIMODAL_RESIZE,
    "multimodal_mp4_probe": _ORACLE_MP4_PROBE,
    "multimodal_mp4_keyframes": _ORACLE_MP4_KEYFRAMES,
    "multimodal_mp3_probe": _ORACLE_MP3_PROBE,
    "multimodal_mp3_decode": _ORACLE_MP3_DECODE,
    "dedup_minhash": _ORACLE_DEDUP_MINHASH,
    "dedup_incremental": _ORACLE_DEDUP_INCREMENTAL,
    "dedup_incremental_probe": _ORACLE_DEDUP_INCREMENTAL,
    "dedup_simhash_pairs": _ORACLE_DEDUP_SIMHASH,
    "emb_lsh_topk": _ORACLE_LSH_TOPK,
    "emb_lsh_multitable": _ORACLE_LSH_MULTITABLE,
}

# IVF needs the trained centroids as literals — built against the check's
# parquet at import; omitted (rows-only fallback) when the table is absent.
_IVF_ORACLE = _build_ivf_oracle()
if _IVF_ORACLE:
    ORACLES["emb_ivf_topk"] = _IVF_ORACLE
_IVF_MP_ORACLE = _build_ivf_oracle(n_probe=2)
if _IVF_MP_ORACLE:
    ORACLES["emb_ivf_multiprobe"] = _IVF_MP_ORACLE
_PQ_ORACLE = _build_pq_oracle()
if _PQ_ORACLE:
    ORACLES["emb_pq_topk"] = _PQ_ORACLE
_RERANK_ORACLE = _build_pq_oracle(rerank=True)
if _RERANK_ORACLE:
    ORACLES["emb_rerank_topk"] = _RERANK_ORACLE
_IVFPQ_ORACLE = _build_ivfpq_oracle()
if _IVFPQ_ORACLE:
    ORACLES["emb_ivfpq_topk"] = _IVFPQ_ORACLE
_IVFPQ_RES_ORACLE = _build_ivfpq_residual_oracle()
if _IVFPQ_RES_ORACLE:
    ORACLES["emb_ivfpq_residual_topk"] = _IVFPQ_RES_ORACLE
    # the persisted index is bit-identical to the in-memory residual
    # IVF-PQ (shared deterministic trainer sample) — same oracle
    ORACLES["emb_ivfpq_search_index"] = _IVFPQ_RES_ORACLE
