"""Near-duplicate detection queries (SURVEY §2.10): exact Jaccard join,
MinHash+LSH candidates, SimHash signatures, embedding cosine near-dups.

Each runs on a corpus with *injected* near-duplicates (a deterministic
mutated copy of every 7th document / 4th vector) so results are
non-degenerate and oracle-checkable. SQL oracles are generated from the
same (k, bands, bits) parameters as the Spark plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD
from climate_anomaly_bigdata_pipeline_spark.queries import query

# ---- shared corpus construction --------------------------------------------

_CORPUS_CTE = r"""
corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           regexp_replace(text, '\s+\S+$', '') AS text
    FROM documents WHERE doc_id % 7 = 0
)
"""


def _doc_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + a near-dup mutant (last word dropped) of every 7th doc."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    mutants = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.regexp_replace("text", r"\s+\S+$", "").alias("text"),
    )
    return docs.unionByName(mutants)


# ---- exact n-gram Jaccard join ----------------------------------------------

# 5-gram shingles: the synthetic corpus has a ~30-word vocabulary, so
# trigrams are shared by hundreds of documents ("stop shingles") and a
# shingle-join goes quadratic; 5-grams are effectively document-unique
# while a last-word mutant still shares all but ~5 of them.
_SHINGLE_N = 5

_SHINGLE_CTE = rf"""
toks AS (
    SELECT doc_id, str_split_regex(lower(trim(text)), '\s+') AS t FROM corpus
),
sh AS (
    SELECT DISTINCT doc_id,
           unnest(list_transform(range(0, len(t) - {_SHINGLE_N - 1}),
                                 i -> array_to_string(t[i+1:i+{_SHINGLE_N}], ' ')))
               AS shingle
    FROM toks
)
"""

# Stop-shingle guard: shingles appearing in more than this many
# documents are dropped before the pair join (the bound that keeps the
# shingle self-join from going quadratic on boilerplate-heavy corpora —
# BASELINE.md records the 469 s blowup without it). Sizes are counted
# AFTER the filter on both engines so jaccard denominators agree.
_MAX_DOC_FREQ = 10

_JACCARD_ORACLE = f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE},
fsh AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {_MAX_DOC_FREQ}
),
sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
    FROM fsh a JOIN fsh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id1, id2, shared, s1.n AS n1, s2.n AS n2,
       CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) AS jaccard
FROM shared
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE) >= 0.8
"""


@query("ngram_jaccard_pairs", oracle=_JACCARD_ORACLE)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-5-gram Jaccard near-dup pairs (threshold 0.8) — each
    (long-enough) injected mutant pairs with its source document. The
    stop-shingle guard is engaged so the driver-exercised plan is the
    one that survives boilerplate skew at scale."""
    return DD.jaccard_pairs(
        _doc_corpus(spark, sf_dir),
        n=_SHINGLE_N,
        threshold=0.8,
        max_doc_freq=_MAX_DOC_FREQ,
    )


# ---- MinHash + LSH ----------------------------------------------------------

_K, _BANDS = 16, 4
_R = _K // _BANDS


def _minhash_oracle() -> str:
    params = DD.minhash_params(_K)
    h0 = "CAST(concat('0x', substr(md5(concat('0:', shingle)), 1, 8)) AS BIGINT)"
    mins = ",\n        ".join(
        f"min(({a} * {h0} + {b}) % {DD.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    bands = ",\n        ".join(
        "md5(concat_ws(','"
        + "".join(f", mh_{b * _R + j}" for j in range(_R))
        + f")) AS band_{b}"
        for b in range(_BANDS)
    )
    stacked = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band_idx, band_{b} AS band_val FROM banded"
        for b in range(_BANDS)
    )
    return f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE},
sig AS (
    SELECT doc_id,
        {mins}
    FROM sh GROUP BY doc_id
),
banded AS (
    SELECT doc_id,
        {bands}
    FROM sig
),
stacked AS (
{stacked}
)
SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
FROM stacked a
JOIN stacked b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
WHERE a.doc_id < b.doc_id
"""


@query("minhash_lsh_candidates", oracle=_minhash_oracle())
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=16) + LSH banding (4 bands × 4 rows) candidate pairs —
    the scalable near-dup path: no quadratic join, only band-bucket
    collisions. md5-derived hashes keep it engine-portable."""
    corpus = _doc_corpus(spark, sf_dir)
    sig = DD.minhash_signatures(corpus, k=_K, n=_SHINGLE_N)
    return DD.lsh_candidates(sig, k=_K, bands=_BANDS)


# ---- SimHash ----------------------------------------------------------------

_BITS = 16


def _simhash_oracle() -> str:
    sums = ",\n        ".join(
        f"sum(((th >> {j}) & 1) * 2 - 1) AS s_{j}" for j in range(_BITS)
    )
    recombine = " + ".join(
        f"(CASE WHEN s_{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(_BITS)
    )
    return rf"""
WITH {_CORPUS_CTE},
toks AS (
    SELECT doc_id, unnest(str_split_regex(lower(trim(text)), '\s+')) AS tok
    FROM corpus
),
h AS (
    SELECT doc_id,
           CAST(concat('0x', substr(md5(concat('0:', tok)), 1, 8)) AS BIGINT) AS th
    FROM toks
),
sums AS (
    SELECT doc_id,
        {sums}
    FROM h GROUP BY doc_id
)
SELECT doc_id, {recombine} AS simhash
FROM sums
"""


@query("simhash_signatures", oracle=_simhash_oracle())
def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per corpus document (sign-aggregated md5 token
    bits, term multiplicity kept); equal/near values are candidates."""
    return DD.simhash(_doc_corpus(spark, sf_dir), bits=_BITS)


# ---- Embedding cosine near-dup ----------------------------------------------

_EMB_NEARDUP_ORACLE = """
WITH corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 4 = 0
)
SELECT a.vec_id AS id1, b.vec_id AS id2,
       list_dot_product(a.v, b.v)
           / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
           AS cosine
FROM corpus a, corpus b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v)
      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.99
"""


@query("embedding_neardup_pairs", oracle=_EMB_NEARDUP_ORACLE)
def embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine near-dup pairs (≥0.99) over a corpus where
    every 4th embedding is duplicated under a new id — each copy must
    pair with its source. Scores are bit-exact across engines (shared
    sequential-fold dot product), so no rounding is applied."""
    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") % 4 == 0)
    copies = emb.withColumn("vec_id", F.col("vec_id") + 1000000)
    corpus = emb.unionByName(copies).select("vec_id", "embedding")
    return DD.embedding_neardup_pairs(corpus, threshold=0.99)


# ---- winnowing fingerprints (rolling-hash k-grams, window min) --------------

_WINNOW_K = 8
_WINNOW_W = 4

_WINNOW_ORACLE = rf"""
WITH d AS (
    SELECT doc_id,
           array_to_string(str_split_regex(lower(trim(text)), '\s+'), ' ') AS norm
    FROM documents
),
sized AS (
    SELECT doc_id, norm, length(norm) - {_WINNOW_K} + 1 AS n_grams
    FROM d
    WHERE length(norm) - {_WINNOW_K} + 1 >= {_WINNOW_W}
),
grams AS (
    SELECT doc_id, n_grams,
           unnest(generate_series(1, n_grams)) - 1 AS pos
    FROM sized
),
hashed AS (
    SELECT g.doc_id, g.n_grams, g.pos,
           CAST(concat('0x', substr(md5(concat('1:',
                substr(s.norm, g.pos + 1, {_WINNOW_K}))), 1, 8)) AS BIGINT) AS gh
    FROM grams g JOIN sized s USING (doc_id)
),
wins AS (
    SELECT doc_id, n_grams, pos,
           min(gh) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING
           ) AS fp
    FROM hashed
),
sel AS (
    SELECT DISTINCT doc_id, fp
    FROM wins
    WHERE pos <= n_grams - {_WINNOW_W}
)
SELECT doc_id,
       count(*) AS n_fp,
       min(fp) AS fp_min,
       max(fp) AS fp_max,
       CAST(sum(fp) AS BIGINT) AS fp_sum
FROM sel
GROUP BY doc_id
"""


@query("winnow_fingerprints", oracle=_WINNOW_ORACLE)
def winnow_fingerprints_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per document: md5-hashed character
    8-grams of normalized text, window-of-4 minima, distinct set
    digested as (count, min, max, sum). The rolling-hash fingerprint
    family from the north-star list — guarantees shared substrings of
    length ≥ k+w-1 share a fingerprint, unlike global MinHash."""
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return DD.winnow_fingerprints(docs, k=_WINNOW_K, w=_WINNOW_W)


# ---- blocked edit-distance entity resolution --------------------------------

_EDIT_DIST_ORACLE = """
SELECT a.c_nationkey, a.c_mktsegment,
       a.c_custkey AS id1, b.c_custkey AS id2,
       a.c_name AS s1, b.c_name AS s2,
       CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
FROM customer a
JOIN customer b
  ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
WHERE a.c_custkey < b.c_custkey
  AND levenshtein(a.c_name, b.c_name) <= 2
"""


@query("levenshtein_neardup", oracle=_EDIT_DIST_ORACLE)
def levenshtein_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy entity resolution: customer-name pairs within 2
    Levenshtein edits, candidate pairs limited to the same
    (nation, segment) block, PassJoin segment-pruned inside each block
    (provably the same pair set — see ``segment_candidates``).

    The attribute block alone does Σ|block|² DPs, and (nation, segment)
    is a FIXED 125-key domain — block population grows linearly with
    the corpus, so the plain variant goes quadratic: measured 173 s at
    sf1 vs 4-6 s segmented (~35x, at 1M true result pairs — the
    segmented cost is output-bound). Segment pre-blocking keeps shrinking the
    candidate set as blocks grow, which is what survives scale. Edit
    distance is the thresholded JVM builtin (no UDF)."""
    cust = Catalog(spark, sf_dir).customer
    return DD.edit_distance_pairs_segmented(
        cust.select("c_nationkey", "c_mktsegment", "c_custkey", "c_name"),
        id_col="c_custkey",
        text_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_dist=2,
    )


# ---- near-dup clusters: candidate pairs -> connected components -------------

_CLUSTER_ORACLE = """
WITH RECURSIVE corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
    FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + 2000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
    FROM embeddings WHERE vec_id % 4 = 0
),
pairs AS (
    SELECT a.vec_id AS id1, b.vec_id AS id2
    FROM corpus a, corpus b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.99
),
edges AS (
    SELECT id1 AS src, id2 AS dst FROM pairs
    UNION
    SELECT id2 AS src, id1 AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node, min(lab) AS cluster_id
FROM reach
GROUP BY node
"""


@query("dedup_clusters_embedding", oracle=_CLUSTER_ORACLE)
def dedup_clusters_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidates->clusters step that completes the dedup pipeline:
    every 4th embedding appears three times (original + two copies);
    brute cosine>=0.99 pairs feed connected components, assigning each
    member its component-minimum cluster_id — downstream, keep one row per cluster. The oracle walks
    the same graph with a recursive CTE."""
    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") % 4 == 0)
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
        .unionByName(emb.select((F.col("vec_id") + 2000000).alias("vec_id"), "embedding"))
    )
    # BLAS candidate generation + exact refilter: the same pair set as
    # brute force, bit-for-bit (embedding_neardup_pairs_gemm docstring;
    # gemm-vs-brute parity test in tests/test_round5b_ops.py). Grid
    # blocking cannot prune dense 64-dim unit vectors (coordinate
    # spread ~ cell width), so vectorizing the pair evaluation is what
    # actually scales: 148 s -> ~10 s at sf1.
    pairs = DD.embedding_neardup_pairs_gemm(corpus, threshold=0.99)
    return DD.connected_components(pairs, "id1", "id2")


# ---- train/val/test split-leakage audit -------------------------------------

_LEAKAGE_ORACLE = r"""
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM documents WHERE doc_id % 5 = 0
),
fp AS (
    SELECT
        md5(array_to_string(str_split_regex(lower(trim(text)), '\s+'), ' '))
            AS fingerprint,
        CASE WHEN CAST(concat('0x', substr(md5(concat('split:',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 90
                  THEN 'train'
             WHEN CAST(concat('0x', substr(md5(concat('split:',
                  CAST(doc_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 95
                  THEN 'val'
             ELSE 'test'
        END AS split
    FROM corpus
)
SELECT fingerprint, CAST(count(*) AS BIGINT) AS n_docs,
       array_to_string(list_sort(list(DISTINCT split)), ',') AS splits
FROM fp
GROUP BY fingerprint
HAVING count(DISTINCT split) > 1
"""


@query("split_leakage_audit", oracle=_LEAKAGE_ORACLE)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test contamination check: hash-split the corpus (with
    injected exact duplicates: every 5th doc re-appears under a new id),
    fingerprint each doc, and report fingerprints that land in more
    than one split — the eval-leakage audit every pretraining pipeline
    must run before shipping a split. One grouped agg over fingerprints;
    the split and fingerprint are both row-local expressions."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
    from climate_anomaly_bigdata_pipeline_spark.operators import text as TX

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    dupes = docs.filter(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    corpus = docs.unionByName(dupes)
    labeled = R.hash_split(TX.fingerprint(corpus), "doc_id")
    return (
        labeled.groupBy("fingerprint")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.array_join(F.array_sort(F.collect_set("split")), ",").alias("splits"),
            F.size(F.collect_set("split")).alias("__k"),
        )
        .filter(F.col("__k") > 1)
        .drop("__k")
    )


# ---- benchmark decontamination ----------------------------------------------

_CONTAM_ORACLE = r"""
WITH bench AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0
),
crawl AS (
    SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id, text FROM bench
),
bt AS (
    SELECT doc_id, str_split_regex(lower(trim(text)), '\s+') AS t FROM bench
),
ct AS (
    SELECT doc_id, str_split_regex(lower(trim(text)), '\s+') AS t FROM crawl
),
bsh AS (
    SELECT DISTINCT doc_id AS benchmark_id,
           unnest(list_transform(range(0, len(t) - 7),
                                 i -> array_to_string(t[i+1:i+8], ' '))) AS sh
    FROM bt
),
csh AS (
    SELECT DISTINCT doc_id AS corpus_id,
           unnest(list_transform(range(0, len(t) - 7),
                                 i -> array_to_string(t[i+1:i+8], ' '))) AS sh
    FROM ct
)
SELECT corpus_id, benchmark_id, CAST(count(*) AS BIGINT) AS n_shared_ngrams
FROM csh JOIN bsh USING (sh)
GROUP BY corpus_id, benchmark_id
"""


@query("benchmark_decontamination", oracle=_CONTAM_ORACLE)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination scan: every 50th doc is the 'benchmark';
    the crawl is everything else plus injected verbatim copies of the
    benchmark docs (the thing the check must catch). Flags crawl docs
    sharing any 8-word-gram with a benchmark doc, with the shared-gram
    count (published recipe: 8-13-gram overlap, GPT-3 appendix C).
    The benchmark side is broadcast — the crawl never shuffles until
    the tiny match set aggregates."""
    docs = Catalog(spark, sf_dir).documents
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("doc_id", "text")
    crawl = (
        docs.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", "text")
        .unionByName(
            bench.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
        )
    )
    return DD.ngram_contamination(crawl, bench, n=8)


# ---- prefix-filtered set-similarity join (SSJoin/AllPairs family) -----------

_PREFIX_JACCARD_ORACLE = f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE},
sizes AS (
    SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id
),
ov AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(count(*) AS BIGINT) AS n_common
    FROM sh a JOIN sh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id1, id2, n_common,
       round(n_common * 1.0 / (s1.sz + s2.sz - n_common), 6) AS jaccard
FROM ov
JOIN sizes s1 ON ov.id1 = s1.doc_id
JOIN sizes s2 ON ov.id2 = s2.doc_id
WHERE n_common * 1.0 / (s1.sz + s2.sz - n_common) >= 0.8
"""


@query("prefix_jaccard_pairs", oracle=_PREFIX_JACCARD_ORACLE)
def prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-gram-shingle Jaccard >= 0.8 pairs over the mutant corpus via
    PREFIX FILTERING — the deterministic complete candidate pruner
    (SSJoin / AllPairs): only pairs sharing a rarest-first prefix
    shingle are verified, yet the result is bit-identical to the
    quadratic join the oracle runs. The third member of the near-dup
    family next to exact n-gram Jaccard (stop-shingle-guarded full
    join) and MinHash-LSH (probabilistic pruning); shingle elements
    (not words) keep prefixes discriminative on this tiny-vocabulary
    corpus — see the operator docstring for the measured word-set
    blowup."""
    return DD.prefix_filtered_jaccard_pairs(
        _doc_corpus(spark, sf_dir),
        id_col="doc_id",
        text_col="text",
        threshold=0.8,
        n=_SHINGLE_N,
    )


# ---- dedup survivor selection: clusters -> keep one per component -----------

_KEEP_ORACLE = """
WITH RECURSIVE corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + 1000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
    FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + 2000000, list_transform(embedding, x -> CAST(x AS DOUBLE))
    FROM embeddings WHERE vec_id % 4 = 0
),
pairs AS (
    SELECT a.vec_id AS id1, b.vec_id AS id2
    FROM corpus a, corpus b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
          >= 0.99
),
edges AS (
    SELECT id1 AS src, id2 AS dst FROM pairs
    UNION
    SELECT id2 AS src, id1 AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
    SELECT node, min(lab) AS cluster_id FROM reach GROUP BY node
)
SELECT c.vec_id,
       coalesce(l.cluster_id, c.vec_id) AS cluster_id,
       (coalesce(l.cluster_id, c.vec_id) = c.vec_id) AS keep
FROM corpus c LEFT JOIN labels l ON c.vec_id = l.node
"""


@query("dedup_keep_representatives", oracle=_KEEP_ORACLE)
def dedup_keep_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final step of the near-dup pipeline: pairs -> connected
    components -> ONE survivor per component. Every corpus row gets its
    cluster id (its own id when it paired with nothing — singletons are
    implicitly their own cluster, which the left join encodes without a
    second pass) and a keep flag marking the component-minimum
    representative. Downstream training-data selection is then
    ``filter(keep)``. Candidate pairs come from the BLAS-candidate +
    exact-refilter join (same pair set as brute force, bit-for-bit);
    the labels join is groups-sized."""
    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") % 4 == 0)
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(emb.select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding"))
        .unionByName(emb.select((F.col("vec_id") + 2000000).alias("vec_id"), "embedding"))
    )
    pairs = DD.embedding_neardup_pairs_gemm(corpus, threshold=0.99)
    labels = DD.connected_components(pairs, "id1", "id2").withColumnRenamed(
        "node", "vec_id"
    )
    out = corpus.select("vec_id").join(labels, "vec_id", "left")
    cluster = F.coalesce(F.col("cluster_id"), F.col("vec_id"))
    return out.select(
        "vec_id",
        cluster.alias("cluster_id"),
        (cluster == F.col("vec_id")).alias("keep"),
    )


# ---- entity-resolution pipeline: fuzzy pairs -> clusters -> survivors -------

_ER_ORACLE = """
WITH RECURSIVE pairs AS (
    SELECT a.c_custkey AS id1, b.c_custkey AS id2
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_mktsegment = b.c_mktsegment
    WHERE a.c_custkey < b.c_custkey
      AND levenshtein(a.c_name, b.c_name) <= 2
),
edges AS (
    SELECT id1 AS src, id2 AS dst FROM pairs
    UNION
    SELECT id2 AS src, id1 AS dst FROM pairs
),
reach(node, lab) AS (
    SELECT DISTINCT src, src FROM edges
    UNION
    SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
),
labels AS (
    SELECT node, min(lab) AS entity_id FROM reach GROUP BY node
)
SELECT c.c_custkey,
       coalesce(l.entity_id, c.c_custkey) AS entity_id,
       (coalesce(l.entity_id, c.c_custkey) = c.c_custkey) AS keep
FROM customer c LEFT JOIN labels l ON c.c_custkey = l.node
"""


@query("entity_resolution_customers", oracle=_ER_ORACLE)
def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over customer names: blocked
    edit-distance pairs (<= 2 edits within a (nation, segment) block)
    feed connected components, and every customer gets its entity id
    plus a keep flag for the component-minimum canonical record —
    composing three verified operators (edit_distance_pairs_segmented,
    connected_components, the left-join survivor step) into the
    dedupe-a-CRM pipeline. The attribute block alone is quadratic in
    block size (a 100x block -> 10,000x pairs); the PassJoin segment
    pre-block (4 segments, 2 required matches, common prefix stripped)
    is the second blocking key that keeps candidates near-linear — the
    pair set is provably identical (segment_candidates docstring), so
    the quadratic oracle is unchanged. Candidate count at sf0.1 drops
    902k -> 185k (4.9x; 5.7x on non-matching pairs).

    Sequential name suffixes chain ("...0041" ~ "...0042" ~ "...0043"),
    giving the similarity graph a ~12-hop diameter at sf0.1; the
    large-star/small-star rounds of ``connected_components`` converge
    independently of that diameter (min-label propagation measured 12
    rounds, 9.6 s, against 5.2 s for star CC with identical labels)."""
    cust = Catalog(spark, sf_dir).customer
    pairs = DD.edit_distance_pairs_segmented(
        cust.select("c_nationkey", "c_mktsegment", "c_custkey", "c_name"),
        id_col="c_custkey",
        text_col="c_name",
        block_cols=["c_nationkey", "c_mktsegment"],
        max_dist=2,
        n_segments=4,
        min_matches=2,
    )
    labels = DD.connected_components(pairs, "id1", "id2").withColumnRenamed(
        "node", "c_custkey"
    )
    out = cust.select("c_custkey").join(labels, "c_custkey", "left")
    entity = F.coalesce(F.col("cluster_id"), F.col("c_custkey"))
    return out.select(
        "c_custkey",
        entity.alias("entity_id"),
        (entity == F.col("c_custkey")).alias("keep"),
    )


# ---- diameter-robust connected components (large-star/small-star) -----------

_CHAIN_CC_ORACLE = """
SELECT event_id,
       CAST(min(event_id) OVER (PARTITION BY user_id) AS BIGINT)
           AS component_label
FROM events
"""


@query("chain_components_star", oracle=_CHAIN_CC_ORACLE)
def chain_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components on a LONG-CHAIN graph: each user's events
    are linked consecutively in (ts, event_id) order, giving path
    graphs ~67 hops deep at sf0.01 — the adversarial diameter case for
    min-label propagation, which needs one round per hop. Labels come
    from ``connected_components`` (Kiveris et al. SoCC'14): alternating
    large-star/small-star halves path lengths every round, so
    convergence is O(log^2 n) rounds INDEPENDENT of diameter — the
    100 TB answer for web-graph-shaped dedup clusters. The oracle
    states the ground truth relationally: one component per user, the
    min event id as its label."""
    from pyspark.sql import Window

    ev = Catalog(spark, sf_dir).events.select("event_id", "user_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    edges = (
        ev.withColumn("prev_id", F.lag("event_id").over(w))
        .filter(F.col("prev_id").isNotNull())
        .select(F.col("prev_id").alias("id1"), F.col("event_id").alias("id2"))
    )
    labels = DD.connected_components(edges, max_iter=50)
    out = ev.select("event_id").join(
        labels.withColumnRenamed("node", "event_id"), "event_id", "left"
    )
    return out.select(
        "event_id",
        F.coalesce(F.col("cluster_id"), F.col("event_id")).alias(
            "component_label"
        ),
    )


# ---- exact substring duplication (Lee et al. style) --------------------------

# 40-char windows on a 10-char stride: long enough that the word-soup
# corpus makes cross-document repeats rare (so duplicated windows are
# signal, not noise), short enough that every injected mutant shares
# nearly all of its source's windows. Strides bound the explode at
# length/10 rows per document.
_SSW, _SSS = 40, 10

_SUBSTR_WINS_CTE = f"""
wins AS (
    SELECT doc_id, substr(text, CAST(i AS INT) + 1, {_SSW}) AS win
    FROM corpus, UNNEST(range(0, len(text) - {_SSW} + 1, {_SSS})) AS t(i)
    WHERE len(text) >= {_SSW}
)
"""

_SUBSTR_STATS_ORACLE = f"""
WITH {_CORPUS_CTE},
{_SUBSTR_WINS_CTE},
occ AS (SELECT win, count(*) AS n_occ FROM wins GROUP BY win)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_windows,
       CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_windows,
       CAST(sum(CASE WHEN n_occ >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) AS dup_frac
FROM wins JOIN occ USING (win)
GROUP BY doc_id
"""


@query("exact_substring_dup_stats", oracle=_SUBSTR_STATS_ORACLE)
def exact_substring_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication profile over strided
    40-char windows (the distributed re-expression of Lee et al.'s
    suffix-array dedup — see operators/dedup.py:substring_dup_stats for
    the shape). Every injected mutant and its source score dup_frac
    near 1; organic cross-document phrase reuse surfaces as partial
    fractions. Linear explode + two hash-keyed exchanges — no suffix
    sort, no pair join."""
    return DD.substring_dup_stats(
        _doc_corpus(spark, sf_dir), window=_SSW, stride=_SSS
    )


_TOP_SUBSTR_ORACLE = f"""
WITH {_CORPUS_CTE},
{_SUBSTR_WINS_CTE}
SELECT win, CAST(count(*) AS BIGINT) AS n_occ,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM wins
GROUP BY win
HAVING count(*) >= 2
ORDER BY n_occ DESC, win
LIMIT 20
"""


@query("top_duplicated_substrings", oracle=_TOP_SUBSTR_ORACLE)
def top_duplicated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 most-repeated exact 40-char substrings in the corpus
    (count + distinct-doc count in one grouped aggregation, then a
    deterministic top-k): the "what IS the boilerplate" report that
    drives removal rules in a curation pipeline."""
    return DD.top_duplicated_windows(
        _doc_corpus(spark, sf_dir), window=_SSW, stride=_SSS, top_k=20
    )


# ---- exact maximal repeat spans (arbitrary length ≥ 40) -----------------------

# The strided profile above bounds detection at ≥40-char repeats on a
# 10-char grid; this query reports the EXACT maximal spans of ANY
# duplicated substring of length ≥ 40 — the true Lee-et-al output —
# via the duplicated-L-gram union identity (operators/dedup.py:
# maximal_repeat_spans). The oracle recomputes it in DuckDB on the
# gram TEXT itself (no hashing anywhere), so the engine's xxhash64
# shuffle-key path is independently cross-checked.
_REPEAT_SPANS_ORACLE = f"""
WITH {_CORPUS_CTE},
grams AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           substr(text, CAST(i AS INT) + 1, {_SSW}) AS g
    FROM corpus, UNNEST(range(0, len(text) - {_SSW} + 1)) AS t(i)
    WHERE len(text) >= {_SSW}
),
occ AS (SELECT g, count(*) AS n_occ FROM grams GROUP BY g),
dup AS (
    SELECT doc_id, pos FROM grams JOIN occ USING (g) WHERE n_occ >= 2
),
flag AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > {_SSW}
                THEN 1 ELSE 0 END AS brk
    FROM dup
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grp AS (
    SELECT doc_id, pos,
           sum(brk) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS g_id
    FROM flag
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SSW} - min(pos) AS BIGINT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_dup_grams
FROM grp
GROUP BY doc_id, g_id
"""


@query("maximal_repeat_spans", oracle=_REPEAT_SPANS_ORACLE)
def maximal_repeat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact maximal repeat spans of length ≥ 40 per document (the
    arbitrary-length Lee-et-al upgrade of `exact_substring_dup_stats`):
    every maximal character interval covered by a corpus-duplicated
    substring, with its start, length, and duplicated-gram count.
    Three linear exchanges — stride-1 gram explode on 8-byte hash
    keys, corpus occurrence count, doc-keyed gaps-and-islands merge —
    never a suffix sort or a pair join."""
    return DD.maximal_repeat_spans(
        _doc_corpus(spark, sf_dir), min_len=_SSW
    )


# ---- corpus duplicated-character fraction -------------------------------------

# The Lee-et-al headline number: what fraction of corpus CHARACTERS sit
# inside some duplicated substring of length ≥ 40. Every term is an
# exact integer (span lengths, text lengths), so the one final division
# is bit-equal across engines.
_DUP_CHAR_FRAC_ORACLE = f"""
WITH {_CORPUS_CTE},
grams AS (
    SELECT doc_id, CAST(i AS BIGINT) AS pos,
           substr(text, CAST(i AS INT) + 1, {_SSW}) AS g
    FROM corpus, UNNEST(range(0, len(text) - {_SSW} + 1)) AS t(i)
    WHERE len(text) >= {_SSW}
),
occ AS (SELECT g, count(*) AS n_occ FROM grams GROUP BY g),
dup AS (
    SELECT doc_id, pos FROM grams JOIN occ USING (g) WHERE n_occ >= 2
),
flag AS (
    SELECT doc_id, pos,
           CASE WHEN lag(pos) OVER w IS NULL
                  OR pos - lag(pos) OVER w > {_SSW}
                THEN 1 ELSE 0 END AS brk
    FROM dup
    WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
grp AS (
    SELECT doc_id, pos,
           sum(brk) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS g_id
    FROM flag
),
spans AS (
    SELECT doc_id, max(pos) + {_SSW} - min(pos) AS span_len
    FROM grp GROUP BY doc_id, g_id
),
tot AS (
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(text)) AS BIGINT) AS total_chars
    FROM corpus
)
SELECT n_docs,
       total_chars,
       CAST(count(s.span_len) AS BIGINT) AS n_spans,
       CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs_with_dups,
       CAST(coalesce(sum(s.span_len), 0) AS BIGINT) AS dup_chars,
       CAST(coalesce(sum(s.span_len), 0) AS DOUBLE)
           / CAST(total_chars AS DOUBLE) AS dup_char_frac
FROM tot LEFT JOIN spans s ON true
GROUP BY n_docs, total_chars
"""


@query("dup_char_fraction", oracle=_DUP_CHAR_FRAC_ORACLE)
def dup_char_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicated-character fraction (the headline metric
    of Lee et al.): total characters, characters inside ≥40-char
    maximal repeat spans, span/doc counts, and the fraction. One
    linear spans pass (see `maximal_repeat_spans`) plus a broadcast
    1-row corpus total; all terms exact integers, one bit-equal
    division."""
    corpus = _doc_corpus(spark, sf_dir)
    spans = DD.maximal_repeat_spans(corpus, min_len=_SSW)
    tot = corpus.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )
    agg = spans.agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.countDistinct("doc_id").cast("long").alias("n_docs_with_dups"),
        F.coalesce(F.sum("span_len"), F.lit(0)).cast("long").alias("dup_chars"),
    )
    return tot.crossJoin(agg).select(
        "n_docs",
        "total_chars",
        "n_spans",
        "n_docs_with_dups",
        "dup_chars",
        (
            F.col("dup_chars").cast("double")
            / F.col("total_chars").cast("double")
        ).alias("dup_char_frac"),
    )


# ---- overlap-coefficient (Szymkiewicz-Simpson) near-dup pairs -----------------

# overlap = |S1∩S2| / min(|S1|,|S2|): the containment detector — a
# document QUOTED whole inside a bigger one scores 1.0 here while its
# Jaccard can sit far below any dedup threshold (union is dominated by
# the bigger doc). Same shingle equi-join and stop-shingle guard as
# the Jaccard query; only the denominator changes, so the candidate
# generation cost is identical and the two metrics share a plan shape
# a cluster can fuse.
_OVERLAP_THRESHOLD = 0.9

_OVERLAP_ORACLE = f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE},
fsh AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {_MAX_DOC_FREQ}
),
sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
    FROM fsh a JOIN fsh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT id1, id2, shared, s1.n AS n1, s2.n AS n2,
       CAST(shared AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE) AS overlap
FROM shared
JOIN sizes s1 ON id1 = s1.doc_id
JOIN sizes s2 ON id2 = s2.doc_id
WHERE CAST(shared AS DOUBLE) / CAST(least(s1.n, s2.n) AS DOUBLE)
      >= {_OVERLAP_THRESHOLD}
"""


@query("overlap_coeff_pairs", oracle=_OVERLAP_ORACLE)
def overlap_coeff_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Szymkiewicz-Simpson overlap-coefficient near-dup pairs
    (threshold 0.9) — catches containment duplication (quotes,
    subsets) that Jaccard's union denominator dilutes. Same candidate
    generation as `ngram_jaccard_pairs` (shingle equi-join +
    stop-shingle guard), different denominator."""
    return DD.jaccard_pairs(
        _doc_corpus(spark, sf_dir),
        n=_SHINGLE_N,
        threshold=_OVERLAP_THRESHOLD,
        max_doc_freq=_MAX_DOC_FREQ,
        metric="overlap",
    )


# ---- MinHash estimate calibration vs exact Jaccard ---------------------------

# The sketch-quality report every dedup pipeline should print before
# trusting its threshold: a SAMPLED set of LSH candidate pairs with
# the MinHash estimate (matching signature components / k — an exact
# multiple of 1/16) next to the TRUE shingle Jaccard, plus the
# absolute error. Scale shape (round-11 rework of the round-10
# output-bound version, which joined EVERY candidate pair and cost
# 815 s at sf10): a calibration report does not need every pair — it
# needs a representative sample per estimated-similarity band. So we
# stratify the (cheap) estimate by band = floor(est·4) clamped to
# [0,3] and keep the first _CALIB_PER_BAND pairs per band under a
# deterministic md5 order (the stratified_sample recipe; oracle
# mirrors the identical ORDER BY md5(concat(id1,':',id2)) window).
# Only the sampled ≤ 4·_CALIB_PER_BAND pairs reach the expensive
# exact-Jaccard join, so the exact side's cost is OUTPUT-INDEPENDENT:
# bounded by the cap, not by how many near-dups the corpus holds. At
# 100 TB the cost is one LSH banding pass + an O(cap) exact join.
# Error algebra: est is exact, true is one correctly-rounded
# division, |est − true| adds one subtraction — identical IEEE ops
# both engines, reported under round(6).
_CALIB_PER_BAND = 64
def _minhash_calib_oracle() -> str:
    params = DD.minhash_params(_K)
    h0 = "CAST(concat('0x', substr(md5(concat('0:', shingle)), 1, 8)) AS BIGINT)"
    mins = ",\n        ".join(
        f"min(({a} * {h0} + {b}) % {DD.MINHASH_PRIME}) AS mh_{i}"
        for i, (a, b) in enumerate(params)
    )
    bands = ",\n        ".join(
        "md5(concat_ws(','"
        + "".join(f", mh_{b * _R + j}" for j in range(_R))
        + f")) AS band_{b}"
        for b in range(_BANDS)
    )
    stacked = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band_idx, band_{b} AS band_val FROM banded"
        for b in range(_BANDS)
    )
    matches = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(_K)
    )
    return f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE},
sig AS (
    SELECT doc_id,
        {mins}
    FROM sh GROUP BY doc_id
),
banded AS (
    SELECT doc_id,
        {bands}
    FROM sig
),
stacked AS (
{stacked}
),
cands AS (
    SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
    FROM stacked a
    JOIN stacked b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
    WHERE a.doc_id < b.doc_id
),
est AS (
    SELECT c.id1, c.id2,
           CAST({matches} AS DOUBLE) / {_K}.0 AS e
    FROM cands c
    JOIN sig sa ON sa.doc_id = c.id1
    JOIN sig sb ON sb.doc_id = c.id2
),
sampled AS (
    SELECT id1, id2, e, band FROM (
        SELECT id1, id2, e,
               least(CAST(floor(e * 4) AS INT), 3) AS band,
               row_number() OVER (
                   PARTITION BY least(CAST(floor(e * 4) AS INT), 3)
                   ORDER BY md5(concat(id1, ':', id2)), id1, id2
               ) AS rk
        FROM est
    ) WHERE rk <= {_CALIB_PER_BAND}
),
ids AS (SELECT id1 AS doc_id FROM sampled UNION SELECT id2 FROM sampled),
shc AS (SELECT sh.* FROM sh JOIN ids USING (doc_id)),
sizes AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY doc_id),
shared AS (
    SELECT c.id1, c.id2, count(*) AS shared
    FROM sampled c
    JOIN shc a ON a.doc_id = c.id1
    JOIN shc b ON b.doc_id = c.id2 AND b.shingle = a.shingle
    GROUP BY c.id1, c.id2
)
SELECT e.id1, e.id2, e.band,
       round(e.e, 6) AS est_jaccard,
       round(CAST(s.shared AS DOUBLE)
             / CAST(n1.n + n2.n - s.shared AS DOUBLE), 6) AS true_jaccard,
       round(abs(e.e - CAST(s.shared AS DOUBLE)
                 / CAST(n1.n + n2.n - s.shared AS DOUBLE)), 6) AS abs_err
FROM sampled e
JOIN shared s ON s.id1 = e.id1 AND s.id2 = e.id2
JOIN sizes n1 ON n1.doc_id = e.id1
JOIN sizes n2 ON n2.doc_id = e.id2
ORDER BY e.id1, e.id2
"""


@query("minhash_jaccard_calibration", oracle=_minhash_calib_oracle())
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-stratified calibration of the MinHash Jaccard estimate
    against the exact shingle Jaccard: ≤ `_CALIB_PER_BAND` md5-sampled
    LSH candidate pairs per estimated-similarity quartile band (see
    the comment block for the scale shape and error algebra)."""
    corpus = _doc_corpus(spark, sf_dir)
    sig = DD.minhash_signatures(
        corpus, k=_K, n=_SHINGLE_N
    ).localCheckpoint()  # reused: banding + the estimate joins
    cands = DD.lsh_candidates(sig, k=_K, bands=_BANDS)
    matches = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(_K)
    )
    sa = sig.select(
        F.col("doc_id").alias("id1"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("id2"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(_K)],
    )
    est = (
        cands.join(sa, "id1")
        .join(sb, "id2")
        .select("id1", "id2", (matches.cast("double") / F.lit(float(_K))).alias("e"))
    )
    # deterministic per-band sample: e is an exact multiple of 1/16,
    # so floor(e*4) is bit-identical in both engines; md5 of the pair
    # key gives a stable, engine-portable order (id tiebreak for
    # defense — md5 collisions on distinct pair strings don't occur).
    band = F.least(F.floor(F.col("e") * 4).cast("int"), F.lit(3))
    w = Window.partitionBy("band").orderBy(
        F.md5(F.concat_ws(":", "id1", "id2")), "id1", "id2"
    )
    sampled = (
        est.withColumn("band", band)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _CALIB_PER_BAND)
        .drop("rk")
        .localCheckpoint()  # ≤ 4·cap rows; reused by ids + 2 joins
    )
    sh = DD.exploded_shingles(corpus, "doc_id", "text", _SHINGLE_N)
    ids = (
        sampled.select(F.col("id1").alias("doc_id"))
        .unionAll(sampled.select(F.col("id2").alias("doc_id")))
        .distinct()
    )
    shc = sh.join(F.broadcast(ids), "doc_id", "left_semi").localCheckpoint()
    sizes = shc.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a, b = shc.alias("a"), shc.alias("b")
    shared = (
        sampled.join(a, F.col("a.doc_id") == F.col("id1"))
        .join(
            b,
            (F.col("b.doc_id") == F.col("id2"))
            & (F.col("b.shingle") == F.col("a.shingle")),
        )
        .groupBy("id1", "id2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    tru = (
        F.col("shared").cast("double")
        / (F.col("n1") + F.col("n2") - F.col("shared")).cast("double")
    )
    return (
        sampled.join(shared, ["id1", "id2"])
        .join(sizes.select(F.col("doc_id").alias("id1"), F.col("n").alias("n1")), "id1")
        .join(sizes.select(F.col("doc_id").alias("id2"), F.col("n").alias("n2")), "id2")
        .select(
            "id1",
            "id2",
            "band",
            F.round("e", 6).alias("est_jaccard"),
            F.round(tru, 6).alias("true_jaccard"),
            F.round(F.abs(F.col("e") - tru), 6).alias("abs_err"),
        )
        .orderBy("id1", "id2")
    )


# ---- dedup impact report: what deduplication actually saves -------------------

# The "was it worth it" table every dedup pass prints before anyone
# trusts it (round 11): per document source, corpus size before/after
# exact first-occurrence dedup in DOCUMENTS, TOKENS, and BYTES, plus
# the duplicate fraction. Kept = lowest doc_id per md5(text) — the
# dedup_keep_representatives rule, so this row is the accounting view
# of that operator. All-integer aggregates (token counts via the
# standard whitespace tokenizer, bytes via octet_length of the raw
# text) with one round(6) division per source. Scale shape: one
# md5-keyed window for first-occurrence + one grouped rollup — the
# same single shuffle the dedup itself pays; no pair joins anywhere.
_IMPACT_ORACLE = r"""
WITH d AS (
    SELECT doc_id, source, text,
           len(str_split_regex(lower(trim(text)), '\s+')) AS n_tok,
           CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
           row_number() OVER (
               PARTITION BY md5(text) ORDER BY doc_id
           ) AS rn
    FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(n_tok) AS BIGINT) AS tokens_total,
       CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END) AS BIGINT)
           AS tokens_kept,
       CAST(sum(n_bytes) AS BIGINT) AS bytes_total,
       CAST(sum(CASE WHEN rn = 1 THEN n_bytes ELSE 0 END) AS BIGINT)
           AS bytes_kept,
       round(1.0 - CAST(sum(CASE WHEN rn = 1 THEN n_tok ELSE 0 END)
                        AS DOUBLE)
                   / CAST(sum(n_tok) AS DOUBLE), 6) AS token_dup_frac
FROM d
GROUP BY source
ORDER BY source
"""


@query("dedup_impact_report", oracle=_IMPACT_ORACLE)
def dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source accounting of exact first-occurrence dedup: doc/token/
    byte counts before and after, and the token duplicate fraction
    (see the comment block)."""
    docs = Catalog(spark, sf_dir).documents
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    d = docs.select(
        "source",
        F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("n_tok"),
        F.octet_length(F.col("text").cast("binary")).cast("long").alias(
            "n_bytes"
        ),
        F.row_number().over(w).alias("rn"),
    )
    kept = F.when(F.col("rn") == 1, 1).otherwise(0)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum("n_tok").cast("long").alias("tokens_total"),
            F.sum(kept * F.col("n_tok")).cast("long").alias("tokens_kept"),
            F.sum("n_bytes").cast("long").alias("bytes_total"),
            F.sum(kept * F.col("n_bytes")).cast("long").alias("bytes_kept"),
            F.round(
                F.lit(1.0)
                - F.sum(kept * F.col("n_tok")).cast("double")
                / F.sum("n_tok").cast("double"),
                6,
            ).alias("token_dup_frac"),
        )
        .orderBy("source")
    )


# ---- dedup threshold sweep: the tuning curve of the near-dup family ----------

# The operational question every dedup deployment answers before
# picking its threshold: how many pairs / how many documents does each
# candidate threshold remove? One exact-Jaccard candidate pass at a
# LOW floor (0.3 — the co-shingle pair set is computed once; the
# threshold only filters it), then a conditional rollup per pinned
# threshold: pair count, distinct later-duplicate docs (the id2 of a
# pair — the keep-first convention `dedup_keep_representatives` uses),
# and the fraction of the corpus those docs are. The tuning-curve
# pattern of `ivf_recall_vs_nprobe` applied to the dedup family.
# Jaccard = shared/(n1+n2-shared) is an exact integer ratio in double,
# so threshold comparisons agree bit-for-bit across engines. Scale
# shape: the SAME stop-shingle-guarded pair join ngram_jaccard_pairs
# runs (threshold-independent cost), one explode x 5 thresholds over
# the pair set, one 5-group rollup.
_SWEEP_THRESHOLDS = [0.3, 0.5, 0.7, 0.8, 0.9]
_SWEEP_FLOOR = 0.3

_SWEEP_VALUES = ", ".join(f"({t!r})" for t in _SWEEP_THRESHOLDS)

_THRESHOLD_SWEEP_ORACLE = f"""
WITH {_CORPUS_CTE},
{_SHINGLE_CTE},
fsh AS (
    SELECT doc_id, shingle FROM sh
    QUALIFY count(*) OVER (PARTITION BY shingle) <= {_MAX_DOC_FREQ}
),
sizes AS (SELECT doc_id, count(*) AS n FROM fsh GROUP BY doc_id),
shared AS (
    SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
    FROM fsh a JOIN fsh b USING (shingle)
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
),
pairs AS (
    SELECT id1, id2,
           CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE)
               AS jaccard
    FROM shared
    JOIN sizes s1 ON id1 = s1.doc_id
    JOIN sizes s2 ON id2 = s2.doc_id
    WHERE CAST(shared AS DOUBLE) / CAST(s1.n + s2.n - shared AS DOUBLE)
          >= {_SWEEP_FLOOR!r}
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM corpus),
th AS (SELECT * FROM (VALUES {_SWEEP_VALUES}) AS v(threshold))
SELECT th.threshold,
       CAST(count(p.id1) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.id2) AS BIGINT) AS n_dup_docs,
       round(CAST(count(DISTINCT p.id2) AS DOUBLE)
             / CAST((SELECT n_docs FROM nd) AS DOUBLE), 6) AS frac_dup_docs
FROM th LEFT JOIN pairs p ON p.jaccard >= th.threshold
GROUP BY th.threshold
ORDER BY th.threshold
"""


@query("dedup_threshold_sweep", oracle=_THRESHOLD_SWEEP_ORACLE)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup tuning curve: pair and later-duplicate-doc counts at
    five Jaccard thresholds from ONE candidate pass (see the comment
    block). The dedup family's analogue of the IVF probe/recall
    curve."""
    corpus = _doc_corpus(spark, sf_dir)
    pairs = DD.jaccard_pairs(
        corpus,
        n=_SHINGLE_N,
        threshold=_SWEEP_FLOOR,
        max_doc_freq=_MAX_DOC_FREQ,
    ).select("id1", "id2", "jaccard")
    n_docs = corpus.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    th = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    hits = th.join(
        pairs, pairs["jaccard"] >= th["threshold"], "left"
    )
    return (
        hits.groupBy("threshold")
        .agg(
            F.count("id1").cast("long").alias("n_pairs"),
            F.countDistinct("id2").cast("long").alias("n_dup_docs"),
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "threshold",
            "n_pairs",
            "n_dup_docs",
            F.round(
                F.col("n_dup_docs").cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("frac_dup_docs"),
        )
        .orderBy("threshold")
    )


# ---- cross-split semantic leakage audit ---------------------------------------

# The leakage mode `split_leakage_audit` cannot see: a NEAR-duplicate
# (not byte-identical, so fingerprints differ) of a training document
# landing in val/test — the contamination that silently inflates eval
# scores. Audit = embedding near-dup pairs (cosine >= 0.99, the
# `embedding_neardup_pairs` corpus with every-4th vector duplicated
# under a new id — so cross-split twins exist by construction) crossed
# with the md5 hash split (80/10/10 on vec_id; a copy hashes to an
# INDEPENDENT split, exactly the real-world hazard). Reported: pair
# counts, cross-split pair count, the distinct eval vectors with a
# train twin, and that count as a fraction of the eval split. The
# Spark plan generates candidates with the chunked float64 GEMM
# (`embedding_neardup_pairs_gemm` — candidates at threshold-margin,
# re-verified with the exact fold, output bit-identical to the brute
# oracle); split labels are row-local md5 arithmetic, no extra join.
_LEAK_EVAL_BUCKETS = (8, 9)  # bucket 8 = val, 9 = test; <= 7 = train


def _split_bucket_sql(col: str) -> str:
    return (
        f"CAST(concat('0x', substr(md5(concat('split:', {col})), 1, 8)) "
        f"AS BIGINT) % 10"
    )


# Copy ids ride above a SCALE-SAFE offset: 10^(digits of max vec_id),
# floored at the historical 1,000,000 — identical to the old constant
# at every test sf (max vec_id < 1e6 there), but a corpus past 1M
# vec_ids can no longer collide copies with real ids (ADVICE r11; the
# string-length form keeps the arithmetic integer-exact on both
# engines, no float pow/log rounding hazard).
_LEAK_OFFSET_SQL = (
    "SELECT greatest(1000000, CAST('1' || repeat('0', "
    "length(CAST(max(vec_id) AS VARCHAR))) AS BIGINT)) AS o "
    "FROM embeddings WHERE vec_id % 4 = 0"
)

_SEMANTIC_LEAK_ORACLE = f"""
WITH off AS ({_LEAK_OFFSET_SQL}),
corpus AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 4 = 0
    UNION ALL
    SELECT vec_id + (SELECT o FROM off) AS vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 4 = 0
),
lab AS (
    SELECT vec_id, v, {_split_bucket_sql('vec_id')} AS bkt FROM corpus
),
pairs AS (
    SELECT a.vec_id AS id1, a.bkt AS b1, b.vec_id AS id2, b.bkt AS b2
    FROM lab a, lab b
    WHERE a.vec_id < b.vec_id
      AND list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v))
             * sqrt(list_dot_product(b.v, b.v))) >= 0.99
),
leaked AS (
    SELECT CASE WHEN b1 <= 7 THEN id2 ELSE id1 END AS eval_id
    FROM pairs
    WHERE (b1 <= 7 AND b2 IN {_LEAK_EVAL_BUCKETS})
       OR (b2 <= 7 AND b1 IN {_LEAK_EVAL_BUCKETS})
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM lab) AS n_vectors,
       (SELECT CAST(count(*) AS BIGINT) FROM lab
        WHERE bkt IN {_LEAK_EVAL_BUCKETS}) AS n_eval_vectors,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
       (SELECT CAST(count(*) AS BIGINT) FROM pairs WHERE b1 <> b2)
           AS n_cross_split_pairs,
       CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_leaked,
       round(CAST(count(DISTINCT eval_id) AS DOUBLE)
             / CAST((SELECT count(*) FROM lab
                     WHERE bkt IN {_LEAK_EVAL_BUCKETS}) AS DOUBLE), 6)
           AS leak_frac
FROM leaked
"""


@query("cross_split_semantic_leakage", oracle=_SEMANTIC_LEAK_ORACLE)
def cross_split_semantic_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic (near-duplicate) train→eval contamination audit over
    the hash-split embedding corpus (see the comment block): one row
    with pair counts, cross-split pairs, and the leaked fraction of
    the eval split."""
    emb = Catalog(spark, sf_dir).embeddings.filter(F.col("vec_id") % 4 == 0)
    # scale-safe copy-id offset mirrored in the oracle's off CTE
    # (ADVICE r11): 10^(digits of max vec_id), floored at 1,000,000
    mx = emb.agg(F.max("vec_id")).collect()[0][0]
    off = max(1000000, 10 ** len(str(int(mx))))
    copies = emb.withColumn("vec_id", F.col("vec_id") + F.lit(off))
    corpus = emb.unionByName(copies).select("vec_id", "embedding")

    def bkt(col):
        return (
            F.conv(
                F.substring(F.md5(F.concat(F.lit("split:"), col)), 1, 8),
                16,
                10,
            ).cast("long")
            % 10
        )

    lab = corpus.select("vec_id", bkt(F.col("vec_id")).alias("bkt"))
    counts = lab.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(
            F.when(F.col("bkt").isin(*_LEAK_EVAL_BUCKETS), 1).otherwise(0)
        ).cast("long").alias("n_eval_vectors"),
    )
    pairs = DD.embedding_neardup_pairs_gemm(corpus, threshold=0.99).select(
        "id1", "id2", bkt(F.col("id1")).alias("b1"), bkt(F.col("id2")).alias("b2")
    )
    is_eval = lambda c: c.isin(*_LEAK_EVAL_BUCKETS)  # noqa: E731
    leak_pair = (
        (F.col("b1") <= 7) & is_eval(F.col("b2"))
    ) | ((F.col("b2") <= 7) & is_eval(F.col("b1")))
    eval_id = F.when(F.col("b1") <= 7, F.col("id2")).otherwise(F.col("id1"))
    pagg = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(F.when(F.col("b1") != F.col("b2"), 1).otherwise(0))
        .cast("long")
        .alias("n_cross_split_pairs"),
        F.countDistinct(F.when(leak_pair, eval_id))
        .cast("long")
        .alias("n_eval_leaked"),
    )
    return counts.crossJoin(F.broadcast(pagg)).select(
        "n_vectors",
        "n_eval_vectors",
        "n_pairs",
        "n_cross_split_pairs",
        "n_eval_leaked",
        F.round(
            F.col("n_eval_leaked").cast("double")
            / F.col("n_eval_vectors").cast("double"),
            6,
        ).alias("leak_frac"),
    )
